"""Property-based tests (hypothesis) — beyond the reference's test strategy
(SURVEY §5: the reference has no randomized testing; determinism claims are
exactly the kind of invariant property testing stresses best)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from html_oracle import segment_html_stdlib

from deepseek_ocr_api_rs_spark.extraction.batch import extract_batch
from deepseek_ocr_api_rs_spark.extraction.html_blocks import segment_html
from deepseek_ocr_api_rs_spark.extraction.normalize import normalize_text
from deepseek_ocr_api_rs_spark.extraction.reference import extract_document

# HTML-ish soup: tags from our grammar + text + entities + malformed bits
_tag = st.sampled_from(
    ["p", "div", "li", "h2", "nav", "a", "span", "script", "style", "table", "td", "br"]
)
_chunk = st.one_of(
    st.text(alphabet="abc &<>/=\"'\n\t;", max_size=20),
    _tag.map(lambda t: f"<{t}>"),
    _tag.map(lambda t: f"</{t}>"),
    st.sampled_from(["&amp;", "&lt;", "&#65;", "<!-- c -->", "<!DOCTYPE html>", "<![CDATA[x]]>"]),
)
_html = st.lists(_chunk, max_size=40).map("".join)


@given(_html)
@settings(max_examples=150, deadline=None)
def test_segmentation_deterministic(html):
    # pure function on ANY input, hostile soup included
    assert segment_html(html) == segment_html(html)


# driver-consistency holds on markup whose text contains no raw '<'/'>' —
# the fast driver DEFINES segmentation semantics (stdlib is the D2-style
# cross-check); on pathological bogus-tag soup the two stdlib fallback
# heuristics are not worth emulating bug-for-bug.
_clean_chunk = st.one_of(
    st.text(alphabet="abc &;=\"'\n\t", max_size=20),
    _tag.map(lambda t: f"<{t}>"),
    _tag.map(lambda t: f"</{t}>"),
    st.sampled_from(["&amp;", "&lt;", "&#65;", "<!-- c -->", "<!DOCTYPE html>"]),
)
_clean_html = st.lists(_clean_chunk, max_size=40).map("".join)


@given(_clean_html)
@settings(max_examples=150, deadline=None)
def test_drivers_consistent_on_markup(html):
    a = segment_html(html)
    c = segment_html_stdlib(html)
    assert [x.text for x in a] == [x.text for x in c]
    assert [x.tag_path for x in a] == [x.tag_path for x in c]


@given(_html)
@settings(max_examples=60, deadline=None)
def test_scalar_vs_batch_parity_on_soup(html):
    payload = html.encode("utf-8")
    ref = extract_document(payload)
    bat = extract_batch([payload])
    assert bat.extracted_text[0] == ref.extracted_text
    assert bat.n_blocks_accepted[0] == ref.n_blocks_accepted


@given(st.text(max_size=200))
@settings(max_examples=100, deadline=None)
def test_normalize_idempotent(s):
    once = normalize_text(s)
    assert normalize_text(once) == once


@given(st.lists(st.binary(max_size=300), max_size=12))
@settings(max_examples=40, deadline=None)
def test_batch_order_invariance(payloads):
    """Row results depend only on the row — never on batch neighbors."""
    fwd = extract_batch(payloads)
    rev = extract_batch(list(reversed(payloads)))
    assert list(fwd.extracted_text) == list(reversed(list(rev.extracted_text)))
    assert list(fwd.branch) == list(reversed(list(rev.branch)))


# --- PDF reading-order properties ------------------------------------------

_span = st.builds(
    lambda page, col, line, x, w: {
        "page": page,
        "x0": round(col * 200.0 + 20.0 + x, 2),
        "y0": round(line * 14.0 + 40.0, 2),
        "x1": round(col * 200.0 + 20.0 + x + w, 2),
        "y1": round(line * 14.0 + 52.0, 2),
        "text": f"s{page}_{col}_{line}_{round(x, 2)}",
    },
    page=st.integers(0, 1),
    col=st.integers(0, 2),
    line=st.integers(0, 5),
    x=st.floats(0, 9.5).map(lambda v: round(v, 2)),
    w=st.floats(30, 120).map(lambda v: round(v, 2)),
)


@given(st.lists(_span, min_size=1, max_size=25, unique_by=lambda s: (s["page"], s["x0"], s["y0"])))
@settings(max_examples=80, deadline=None)
def test_pdf_order_permutation_invariant(spans):
    """Reading order is a pure function of geometry: any input permutation
    of (distinct-keyed) spans yields the same assembled text — the E6
    permute-then-flatten determinism."""
    import random

    from deepseek_ocr_api_rs_spark.extraction.pdf_spans import assemble_pdf_text

    base = assemble_pdf_text(spans, 612.0)
    rng = random.Random(7)
    for _ in range(3):
        shuffled = spans[:]
        rng.shuffle(shuffled)
        assert assemble_pdf_text(shuffled, 612.0) == base


def test_polish_markdown_edges(spark):
    """X3 chain edge cases: indexed image refs, non-image det strip, escapes,
    stop token only as suffix, no-ref passthrough."""
    from deepseek_ocr_api_rs_spark.functions.text import polish_markdown
    import pyspark.sql.functions as F

    cases = [
        # (input, expected)
        ("plain text<|eos|>", "plain text"),
        ("keep <|eos|> middle", "keep <|eos|> middle"),
        (
            "<|ref|>image<|/ref|><|det|>[[1,2]]<|/det|>a"
            "<|ref|>image<|/ref|><|det|>[[3,\n4]]<|/det|>b",
            "![](images/0.jpg)\na![](images/1.jpg)\nb",
        ),
        (
            "x<|ref|>table<|/ref|><|det|>[[0]]<|/det|>y<|ref|>bare<|/ref|>z",
            "xyz",
        ),
        ("a \\coloneqq b \\eqqcolon c", "a := b =: c"),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(cases)], "i long, md string"
    )
    got = {r.i: r.out for r in df.select("i", polish_markdown(F.col("md")).alias("out")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i], want)


# --- real-PDF writer/parser roundtrip (extraction/pdf_real.py) ---

_pdf_text = st.text(
    alphabet=st.sampled_from(list("abcDEF 019().,\\-")), min_size=1, max_size=30
).filter(lambda s: s.strip())


@st.composite
def _pdf_spans(draw):
    n_pages = draw(st.integers(1, 2))
    spans = []
    for page in range(n_pages):
        for _ in range(draw(st.integers(1, 4))):
            x0 = draw(st.floats(0, 500)).__round__(2)
            y0 = draw(st.floats(0, 700)).__round__(2)
            w = draw(st.floats(10, 300)).__round__(2)
            spans.append(
                {
                    "page": page,
                    "x0": x0,
                    "y0": y0,
                    "x1": round(x0 + w, 2),
                    "y1": round(y0 + 12.0, 2),
                    "text": draw(_pdf_text),
                }
            )
    return spans


@given(_pdf_spans(), st.booleans(), st.sampled_from([0, 2]))
@settings(max_examples=60, deadline=None)
def test_pdf_writer_parser_roundtrip(spans, compress, tj):
    from deepseek_ocr_api_rs_spark.extraction.pdf_real import (
        make_pdf_bytes,
        parse_real_pdf,
    )

    data = make_pdf_bytes(spans, compress=compress, use_tj_every=tj)
    parsed = parse_real_pdf(data)
    assert parsed is not None
    width, got = parsed
    assert width == 612.0
    assert [s["text"] for s in got] == [s["text"] for s in spans]
    assert [s["page"] for s in got] == [s["page"] for s in spans]
    for g, s in zip(got, spans):
        assert abs(g["x0"] - s["x0"]) <= 0.02, (g, s)
        assert abs(g["y0"] - s["y0"]) <= 0.02, (g, s)


@given(st.binary(max_size=400))
@settings(max_examples=200, deadline=None)
def test_pdf_parser_never_raises_on_garbage(blob):
    """Error-branch contract: hostile bytes after the magic may parse to
    None or to spans, but must never raise (one bad document cannot fail a
    whole Arrow batch)."""
    from deepseek_ocr_api_rs_spark.extraction.pdf_real import parse_real_pdf

    out = parse_real_pdf(b"%PDF-1.7\n" + blob)
    assert out is None or isinstance(out, tuple)


@given(st.binary(max_size=300))
@settings(max_examples=150, deadline=None)
def test_extract_document_never_raises(blob):
    res = extract_document(blob)
    assert res.branch in ("html", "pdf", "text", "error")


def test_url_canonicalize_edge_cases(spark):
    """Regex-chain canonicalizer: scheme/host lowercased (path untouched),
    default ports stripped (non-default kept), utm params removed wherever
    they sit, emptied query dropped, fragment dropped, non-URLs pass
    through un-mangled."""
    from deepseek_ocr_api_rs_spark.functions.web import canonicalize_url, url_host

    cases = [
        ("HTTP://Ex.COM:80/A/B?x=1#f", "http://ex.com/A/B?x=1"),
        ("https://Ex.com:443/", "https://ex.com/"),
        ("https://ex.com:8443/a", "https://ex.com:8443/a"),  # non-default kept
        ("http://ex.com/?utm_a=1", "http://ex.com/"),
        ("http://ex.com/?utm_a=1&utm_b=2", "http://ex.com/"),
        ("http://ex.com/?utm_a=1&id=2&utm_b=3", "http://ex.com/?id=2"),
        ("http://ex.com/?id=2&utm_b=3", "http://ex.com/?id=2"),
        # anchoring: params merely CONTAINING utm_, and utm_ path text,
        # must survive untouched (ADVICE r3: unanchored rule ate 'myid=2')
        ("http://ex.com/?myutm_x=1&id=2", "http://ex.com/?myutm_x=1&id=2"),
        ("http://ex.com/utm_page?a=1", "http://ex.com/utm_page?a=1"),
        ("http://ex.com/?a=1&utm_b=2&utm_c=3&d=4", "http://ex.com/?a=1&d=4"),
        ("http://ex.com/?utm_a=1&utm_b=2&id=3", "http://ex.com/?id=3"),
        ("http://ex.com/p#only-fragment", "http://ex.com/p"),
        ("not a url at all", "not a url at all"),
        ("ftp://Files.Ex.COM/X", "ftp://files.ex.com/X"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _) in enumerate(cases)], "i int, u string")
    got = {r.i: (r.c, r.h) for r in df.select(
        "i", canonicalize_url("u").alias("c"),
        url_host(canonicalize_url("u")).alias("h"),
    ).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i][0] == want, (u, got[i][0], want)
    n_nonurl = next(i for i, (u, _) in enumerate(cases) if u == "not a url at all")
    assert got[0][1] == "ex.com" and got[n_nonurl][1] == ""  # host of non-URL = ''


def test_url_canonicalize_engines_agree_on_repeated_lead_utm(spark):
    """Cross-engine parity regression (code-review r4): a SECOND literal
    '?utm_…&' deeper in the string — Spark regexp_replace is always
    global, so the DuckDB side must pass 'g' on the LEAD rule too."""
    import duckdb

    from deepseek_ocr_api_rs_spark.functions.web import (
        canonicalize_url,
        canonicalize_url_duckdb,
    )

    urls = [
        "http://ex.com/?utm_a=1&b=?utm_c=2&d=3",
        "http://ex.com/?utm_a=1&x=1#f?utm_b=2&y=2",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i int, u string")
    got_spark = {
        r.i: r.c for r in df.select("i", canonicalize_url("u").alias("c")).collect()
    }
    con = duckdb.connect()
    for i, u in enumerate(urls):
        got_duck = con.execute(
            f"with t(u) as (values (?)) select {canonicalize_url_duckdb('u')} from t",
            [u],
        ).fetchone()[0]
        assert got_spark[i] == got_duck, (u, got_spark[i], got_duck)
    """Shared-regex PII scrub: emails/IPs/phones redacted, lookalikes
    (version strings, short digit runs, bare '@' words) untouched; counts
    match; phone digits inside an already-redacted email never double
    count (chain order)."""
    from deepseek_ocr_api_rs_spark.functions.text import pii_counts, redact_pii

    cases = [
        ("mail me at first.last+tag@sub.example.co.uk today",
         "mail me at <EMAIL> today", (1, 0, 0)),
        ("server 10.0.255.7 responded", "server <IP> responded", (0, 1, 0)),
        ("call +44 (0) 2079-460-000 now", "call <PHONE> now", (0, 0, 1)),
        ("v1.2.3.4 is a version not an ip", "v1.2.3.4 is a version not an ip",
         (0, 0, 0)),
        ("room 12 floor 3 no pii here", "room 12 floor 3 no pii here",
         (0, 0, 0)),
        ("email a@b.io and ip 8.8.8.8 and tel 555 010 9999 x",
         "email <EMAIL> and ip <IP> and tel <PHONE> x", (1, 1, 1)),
        ("not-an-email @ sign alone", "not-an-email @ sign alone", (0, 0, 0)),
        # ADVICE r4: space-separated year runs must NOT merge into one
        # <PHONE> (the old loose run pattern chained them via \s)
        ("years 1999 2000 2018 2021 listed", "years 1999 2000 2018 2021 listed",
         (0, 0, 0)),
        ("range 1999-2000 and 2018-2021 ok", "range 1999-2000 and 2018-2021 ok",
         (0, 0, 0)),
        ("intl +44 (0) 2079-460-000 line", "intl <PHONE> line", (0, 0, 1)),
        # code-review r5: over-long digit runs must redact WHOLE, never
        # leave a tail ('<PHONE>678' leaked the last digits)
        ("acct 123456789012345678 end", "acct <PHONE> end", (0, 0, 1)),
        ("card 5555444433332222 on file", "card <PHONE> on file", (0, 0, 1)),
        # ADVICE r5: the bare digit-run alternative is \b-anchored — a
        # digit tail embedded in an alphanumeric token is NOT a phone
        # and must never be partially redacted
        ("serial SN12345678 shipped", "serial SN12345678 shipped", (0, 0, 0)),
        ("order AB99887766554 ok", "order AB99887766554 ok", (0, 0, 0)),
        ("bare 5551234567 dial", "bare <PHONE> dial", (0, 0, 1)),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _, _) in enumerate(cases)], "i int, t string"
    )
    counts = pii_counts("t")
    got = {
        r.i: r
        for r in df.select(
            "i", redact_pii("t").alias("red"),
            counts["n_emails"].alias("e"), counts["n_ips"].alias("p"),
            counts["n_phones"].alias("ph"),
        ).collect()
    }
    for i, (src, want, (ne, ni, nph)) in enumerate(cases):
        assert got[i].red == want, (src, got[i].red)
        assert (got[i].e, got[i].p, got[i].ph) == (ne, ni, nph), src


def test_html_link_extraction_and_resolution(spark):
    """extract_hrefs/absolutize_href: both quote styles, uppercase <A>,
    pseudo-link filtering, and the four RFC 3986 resolution forms —
    cross-checked against the DuckDB mirror expression."""
    import duckdb

    from deepseek_ocr_api_rs_spark.functions.web import (
        absolutize_href_duckdb,
        extract_hrefs_duckdb,
        extract_links,
    )
    from pyspark.sql import functions as F

    rows = [
        ("https://h.example.org/a/b/page.html?q=1",
         "<p><a href=\"/root\">r</a> <A HREF=ignored href='x/y.html'>rel</A> "
         "<a href='//cdn.example.net/l.js'>p</a> "
         "<a href=\"https://abs.example.com/z\">a</a> "
         "<a href='mailto:a@b.c'>m</a> <a href='#frag'>f</a> "
         "<a href='javascript:void(0)'>j</a></p>"),
        ("http://plain.example.org/top.html", "<a href='/only'>o</a>"),
        # base with NO path: relative refs merge against '/' (RFC 3986
        # §5.3 — code-review r6: the host itself was being eaten)
        ("https://bare.example.com", "<a href='about.html'>a</a> "
                                     "<a href='/root2'>r</a>"),
    ]
    df = spark.createDataFrame(rows, "url string, html string")
    got = sorted(
        (r.url, r.href, r.resolved)
        for r in extract_links(df).select("url", "href", "resolved").collect()
    )
    want = sorted([
        ("https://h.example.org/a/b/page.html?q=1", "/root",
         "https://h.example.org/root"),
        ("https://h.example.org/a/b/page.html?q=1", "x/y.html",
         "https://h.example.org/a/b/x/y.html"),
        ("https://h.example.org/a/b/page.html?q=1", "//cdn.example.net/l.js",
         "https://cdn.example.net/l.js"),
        ("https://h.example.org/a/b/page.html?q=1", "https://abs.example.com/z",
         "https://abs.example.com/z"),
        ("http://plain.example.org/top.html", "/only",
         "http://plain.example.org/only"),
        ("https://bare.example.com", "about.html",
         "https://bare.example.com/about.html"),
        ("https://bare.example.com", "/root2",
         "https://bare.example.com/root2"),
    ])
    assert got == want
    # cross-engine: the DuckDB mirror produces the same pairs
    con = duckdb.connect()
    con.execute("create table t(url varchar, html varchar)")
    con.executemany("insert into t values (?, ?)", rows)
    duck = sorted(
        tuple(r) for r in con.execute(
            f"""select url, href, {absolutize_href_duckdb('url', 'href')} as resolved
                from (select url, unnest({extract_hrefs_duckdb('html')}) as href from t)"""
        ).fetchall()
    )
    assert duck == want


def test_sitemap_parsing_cross_engine(spark):
    """parse_sitemap: multi-line entries, sitemapindex blocks, missing
    lastmod → NULL, entries without <loc> dropped — same results from
    the DuckDB mirror expression."""
    import duckdb

    from deepseek_ocr_api_rs_spark.functions.web import (
        parse_sitemap,
        parse_sitemap_duckdb,
    )

    xml = (
        "<?xml version=\"1.0\"?><urlset>"
        "<url>\n  <loc>\n  https://a.example/1\n  </loc>\n"
        "  <lastmod>2023-11-05</lastmod>\n</url>"
        "<url><loc>https://a.example/2</loc></url>"
        "<url><lastmod>2020-01-01</lastmod></url>"  # no loc → dropped
        "<sitemap><loc>https://a.example/sub.xml</loc></sitemap>"
        "</urlset>"
    )
    df = spark.createDataFrame([(1, xml)], "id long, sitemap_xml string")
    got = sorted(
        (r.loc, r.lastmod) for r in parse_sitemap(df).collect()
    )
    want = [
        ("https://a.example/1", "2023-11-05"),
        ("https://a.example/2", None),
        ("https://a.example/sub.xml", None),
    ]
    assert got == want
    con = duckdb.connect()
    duck = con.execute(
        f"select {parse_sitemap_duckdb('?')} as entries", [xml]
    ).fetchone()[0]
    duck_pairs = sorted(
        (e["loc"], e["lastmod"]) for e in duck if e["loc"] != ""
    )
    assert duck_pairs == want


def test_feed_parsing_cross_engine(spark):
    """parse_feed: RSS text-links + CDATA titles, Atom href-links, items
    without links dropped, missing fields NULL — same results from the
    DuckDB mirror."""
    import duckdb

    from deepseek_ocr_api_rs_spark.functions.web import (
        parse_feed,
        parse_feed_duckdb,
    )

    xml = (
        "<rss><channel>"
        "<item><title><![CDATA[A & B]]></title>"
        "<link>\n https://r.example/1 \n</link>"
        "<pubDate>Tue, 02 Jan 2024 03:04:05 GMT</pubDate></item>"
        "<item><description>no link at all</description></item>"
        "</channel></rss>"
        "<feed><entry><title type=\"html\">T2</title>"
        "<link rel=\"alternate\" type=\"text/html\" href='https://a.example/2'/>"
        "<updated>2024-05-06T07:08:09Z</updated></entry></feed>"
    )
    df = spark.createDataFrame([(1, xml)], "id long, feed_xml string")
    got = sorted(
        (r.title, r.link, r.published) for r in parse_feed(df).collect()
    )
    want = sorted([
        ("A & B", "https://r.example/1", "Tue, 02 Jan 2024 03:04:05 GMT"),
        ("T2", "https://a.example/2", "2024-05-06T07:08:09Z"),
    ])
    assert got == want
    con = duckdb.connect()
    duck = con.execute(
        f"select {parse_feed_duckdb('?')} as e", [xml]
    ).fetchone()[0]
    duck_rows = sorted(
        (e["title"], e["link"], e["published"])
        for e in duck
        if e["link"] is not None
    )
    assert duck_rows == want
