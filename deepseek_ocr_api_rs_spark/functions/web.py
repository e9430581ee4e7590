"""URL canonicalization — the first operator of every Common-Crawl-style
pipeline (dedup by canonical URL, host-level grouping, politeness shards).

The canonicalizer is a fixed regex chain (identical patterns run on both
engines — Java regex and DuckDB RE2, so: no lookahead, no inline flags):

1. drop the fragment;
2. lowercase the scheme://authority part ONLY (paths stay case-sensitive,
   per RFC 3986 — hosts are case-insensitive, paths are not);
3. strip default ports (:80 for http, :443 for https);
4. strip ``utm_*`` tracking parameters (and the separators they leave
   behind), dropping an emptied query string entirely.

Documented non-goals: dot-segment resolution, percent-encoding
normalization, query-param sorting — each is a rabbit hole real pipelines
configure per-source; the chain here is the deterministic, oracle-exact
core. Strings with no scheme://authority prefix pass through steps 3-4
unchanged (step 2 requires the match).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# scheme://authority | rest — anchored, no lookahead (RE2-safe)
AUTH_RE = r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)(.*)$"
HTTPS_PORT_RE = r"^(https://[^/:?#]*):443($|[/?#].*)"
HTTP_PORT_RE = r"^(http://[^/:?#]*):80($|[/?#].*)"
# utm_* stripping, anchored at a parameter separator so a param merely
# CONTAINING "utm_" (?myutm_x=1) or "utm_" text in a path never matches
# (RE2 has no lookbehind, so the separator is consumed — three rules):
# 1. every '&utm_...' param (covers mid, consecutive-run, and tail params);
# 2. a LEADING '?utm_...&' (its separator is '?', which must survive);
# 3. a sole '?utm_...' / '&utm_...' left at end-of-string.
# Known limit (shared with real canonicalizers): a literal '&utm_' inside a
# PATH segment (legal but vanishingly rare) would also match rule 1.
AMP_UTM_RE = r"&utm_[^&#]*"
LEAD_UTM_RE = r"\?utm_[^&#]*&"
UTM_TAIL_RE = r"[?&]utm_[^&#]*$"
TRAIL_Q_RE = r"\?$"
FRAGMENT_RE = r"#.*"
HOST_RE = r"^[a-z][a-z0-9+.-]*://([^/:?#]*)"


def canonicalize_url(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    s = F.regexp_replace(c, FRAGMENT_RE, "")
    auth = F.regexp_extract(s, AUTH_RE, 1)
    rest = F.regexp_extract(s, AUTH_RE, 2)
    s = F.when(auth == "", s).otherwise(F.concat(F.lower(auth), rest))
    s = F.regexp_replace(s, HTTPS_PORT_RE, "$1$2")
    s = F.regexp_replace(s, HTTP_PORT_RE, "$1$2")
    s = F.regexp_replace(s, AMP_UTM_RE, "")
    s = F.regexp_replace(s, LEAD_UTM_RE, "?")
    s = F.regexp_replace(s, UTM_TAIL_RE, "")
    return F.regexp_replace(s, TRAIL_Q_RE, "")


def canonicalize_url_duckdb(expr: str) -> str:
    s = f"regexp_replace({expr}, '{FRAGMENT_RE}', '', 'g')"
    auth = f"regexp_extract({s}, '{AUTH_RE}', 1)"
    rest = f"regexp_extract({s}, '{AUTH_RE}', 2)"
    s = f"(case when {auth} = '' then {s} else lower({auth}) || {rest} end)"
    s = f"regexp_replace({s}, '{HTTPS_PORT_RE}', '\\1\\2')"
    s = f"regexp_replace({s}, '{HTTP_PORT_RE}', '\\1\\2')"
    s = f"regexp_replace({s}, '{AMP_UTM_RE}', '', 'g')"
    # 'g' everywhere Spark replaces globally (a literal second '?utm_…&'
    # deeper in the string must canonicalize identically on both engines)
    s = f"regexp_replace({s}, '{LEAD_UTM_RE}', '?', 'g')"
    s = f"regexp_replace({s}, '{UTM_TAIL_RE}', '')"
    return f"regexp_replace({s}, '{TRAIL_Q_RE}', '')"


def url_host(col: str | Column) -> Column:
    """Host of an already-canonicalized URL ('' when absent)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract(c, HOST_RE, 1)


def url_host_duckdb(expr: str) -> str:
    return f"regexp_extract({expr}, '{HOST_RE}', 1)"


# ---------------------------------------------------------------------------
# HTML link extraction (r6) — the <a href> side of link-graph mining
# (extract_pdf_links is the PDF side). Everything stays JVM-side /
# codegen: regexp_extract_all over the html string, explode, and a
# when-chain resolver; the identical RE2-safe patterns run on the DuckDB
# oracle. Resolution covers the four forms that dominate crawled HTML —
# absolute http(s), protocol-relative //host, root-relative /path, and
# document-relative path — per RFC 3986 §5 merge rules (dot-segment
# normalization is a documented non-goal, same policy as canonicalize_url).

HREF_RE = r"""<[aA][^>]*[\s]href[\s]*=[\s]*["']([^"'<>]+)["']"""
_NONLINK_RE = r"^(javascript:|mailto:|tel:|data:|#)"
_SCHEME_HOST_RE = r"^(https?://[^/?#]+)"


def extract_hrefs(html: str | Column) -> Column:
    """html string → array of raw href values (both quote styles),
    excluding javascript:/mailto:/tel:/data:/fragment pseudo-links."""
    c = F.col(html) if isinstance(html, str) else html
    return F.filter(
        F.regexp_extract_all(c, F.lit(HREF_RE), F.lit(1)),
        lambda h: ~h.rlike(_NONLINK_RE),
    )


def absolutize_href(base: str | Column, href: str | Column) -> Column:
    """Resolve one href against the page's base url (RFC 3986 §5 merge,
    scheme-relative and root-relative forms included)."""
    b = F.col(base) if isinstance(base, str) else base
    h = F.col(href) if isinstance(href, str) else href
    scheme = F.regexp_extract(b, r"^(https?):", 1)
    scheme_host = F.regexp_extract(b, _SCHEME_HOST_RE, 1)
    base_noq = F.regexp_replace(b, r"[?#].*$", "")
    # a base with NO path ('https://host') must merge relative refs
    # against '/' (RFC 3986 §5.3) — the generic strip-last-segment would
    # eat the host itself (code-review r6)
    base_dir = F.when(
        base_noq.rlike(_SCHEME_HOST_RE + "$"),
        F.concat(base_noq, F.lit("/")),
    ).otherwise(F.regexp_replace(base_noq, r"/[^/]*$", "/"))
    return (
        F.when(h.rlike("^https?://"), h)
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(scheme_host, h))
        .otherwise(F.concat(base_dir, h))
    )


def extract_links(
    df, html_col: str = "html", base_col: str = "url"
) -> "DataFrame":  # noqa: F821 - DataFrame only for typing
    """(base url, html) rows → one row per link with (href, resolved).
    Explode after a codegen'd extract; no Python anywhere."""
    return df.withColumn("href", F.explode(extract_hrefs(html_col))).withColumn(
        "resolved", absolutize_href(base_col, "href")
    )


def extract_hrefs_duckdb(html_expr: str) -> str:
    """DuckDB mirror of extract_hrefs (RE2; same patterns)."""
    pat = HREF_RE.replace("'", "''")
    return (
        f"list_filter(regexp_extract_all({html_expr}, '{pat}', 1), "
        f"h -> not regexp_matches(h, '{_NONLINK_RE}'))"
    )


def absolutize_href_duckdb(base_expr: str, href_expr: str) -> str:
    return f"""case
  when regexp_matches({href_expr}, '^https?://') then {href_expr}
  when {href_expr} like '//%' then regexp_extract({base_expr}, '^(https?):', 1) || ':' || {href_expr}
  when {href_expr} like '/%' then regexp_extract({base_expr}, '{_SCHEME_HOST_RE}', 1) || {href_expr}
  when regexp_matches(regexp_replace({base_expr}, '[?#].*$', ''), '{_SCHEME_HOST_RE}$')
    then regexp_replace({base_expr}, '[?#].*$', '') || '/' || {href_expr}
  else regexp_replace(regexp_replace({base_expr}, '[?#].*$', ''), '/[^/]*$', '/') || {href_expr}
end"""


# ---------------------------------------------------------------------------
# sitemap.xml parsing (r6) — the discovery side of crawl scheduling
# (robots.txt's Sitemap lines point here). Codegen-only: <url> blocks out
# of one non-greedy regexp_extract_all, then per-block <loc>/<lastmod>
# field extraction via transform — no XML library, no Python. Handles
# both urlset entries and sitemapindex <sitemap> blocks.

_SITEMAP_BLOCK_RE = r"<(?:url|sitemap)>(.*?)</(?:url|sitemap)>"
_LOC_RE = r"<loc>\s*(.*?)\s*</loc>"
_LASTMOD_RE = r"<lastmod>\s*(.*?)\s*</lastmod>"


def parse_sitemap(df, xml_col: str = "sitemap_xml") -> "DataFrame":  # noqa: F821
    """(…, sitemap_xml) rows → one row per <url>/<sitemap> entry with
    (loc, lastmod) — lastmod NULL when absent. Input newlines must not
    break entries: the block regex runs in DOTALL mode via (?s)."""
    c = F.col(xml_col)
    blocks = F.regexp_extract_all(
        c, F.lit("(?s)" + _SITEMAP_BLOCK_RE), F.lit(1)
    )
    entries = F.transform(
        blocks,
        lambda b: F.struct(
            F.regexp_extract(b, "(?s)" + _LOC_RE, 1).alias("loc"),
            F.nullif(
                F.regexp_extract(b, "(?s)" + _LASTMOD_RE, 1), F.lit("")
            ).alias("lastmod"),
        ),
    )
    return (
        df.withColumn("_e", F.explode(entries))
        .withColumn("loc", F.col("_e.loc"))
        .withColumn("lastmod", F.col("_e.lastmod"))
        .drop("_e")
        .filter(F.col("loc") != "")
    )


def parse_sitemap_duckdb(xml_expr: str) -> str:
    """DuckDB mirror: list of {loc, lastmod} structs (RE2 's' flag)."""
    blk = _SITEMAP_BLOCK_RE.replace("'", "''")
    return (
        f"list_transform(regexp_extract_all({xml_expr}, '{blk}', 1, 's'), "
        f"b -> {{'loc': regexp_extract(b, '{_LOC_RE}', 1, 's'), "
        f"'lastmod': nullif(regexp_extract(b, '{_LASTMOD_RE}', 1, 's'), '')}})"
    )


# ---------------------------------------------------------------------------
# RSS / Atom feed parsing (r6) — the third discovery source next to
# <a href> and sitemap.xml. Same codegen-only shape: item/entry blocks
# from one DOTALL regexp_extract_all, then per-block field extraction.
# RSS 2.0 <item><title/link/pubDate> and Atom <entry><title/link
# href=…/updated> both land in one (title, link, published) schema.

_FEED_BLOCK_RE = r"<(?:item|entry)[\s>](.*?)</(?:item|entry)>"
_TITLE_RE = r"<title[^>]*>\s*(?:<!\[CDATA\[)?(.*?)(?:\]\]>)?\s*</title>"
_RSS_LINK_RE = r"<link>\s*(.*?)\s*</link>"
_ATOM_LINK_RE = r"""<link[^>]*href\s*=\s*["']([^"']+)["']"""
_PUBDATE_RE = r"<(?:pubDate|updated|published)[^>]*>\s*(.*?)\s*</(?:pubDate|updated|published)>"


def parse_feed(df, xml_col: str = "feed_xml") -> "DataFrame":  # noqa: F821
    """(…, feed_xml) rows → one row per feed item with (title, link,
    published). RSS <link>text</link> is preferred; an Atom
    <link href="…"/> is the fallback — covering both dialects with one
    expression. Items without either link are dropped; missing
    title/published are NULL."""
    blocks = F.regexp_extract_all(
        F.col(xml_col), F.lit("(?s)" + _FEED_BLOCK_RE), F.lit(1)
    )
    entries = F.transform(
        blocks,
        lambda b: F.struct(
            F.nullif(
                F.regexp_extract(b, "(?s)" + _TITLE_RE, 1), F.lit("")
            ).alias("title"),
            F.coalesce(
                F.nullif(F.regexp_extract(b, "(?s)" + _RSS_LINK_RE, 1), F.lit("")),
                F.nullif(F.regexp_extract(b, _ATOM_LINK_RE, 1), F.lit("")),
            ).alias("link"),
            F.nullif(
                F.regexp_extract(b, "(?s)" + _PUBDATE_RE, 1), F.lit("")
            ).alias("published"),
        ),
    )
    return (
        df.withColumn("_e", F.explode(entries))
        .withColumn("title", F.col("_e.title"))
        .withColumn("link", F.col("_e.link"))
        .withColumn("published", F.col("_e.published"))
        .drop("_e")
        .filter(F.col("link").isNotNull())
    )


def parse_feed_duckdb(xml_expr: str) -> str:
    """DuckDB mirror: list of {title, link, published} structs."""
    blk = _FEED_BLOCK_RE.replace("'", "''")
    ttl = _TITLE_RE.replace("'", "''")
    rl = _RSS_LINK_RE.replace("'", "''")
    al = _ATOM_LINK_RE.replace("'", "''")
    pd_ = _PUBDATE_RE.replace("'", "''")
    return (
        f"list_transform(regexp_extract_all({xml_expr}, '{blk}', 1, 's'), "
        f"b -> {{'title': nullif(regexp_extract(b, '{ttl}', 1, 's'), ''), "
        f"'link': coalesce(nullif(regexp_extract(b, '{rl}', 1, 's'), ''), "
        f"nullif(regexp_extract(b, '{al}', 1), '')), "
        f"'published': nullif(regexp_extract(b, '{pd_}', 1, 's'), '')}})"
    )


# ---------------------------------------------------------------------------
# structured page metadata (r7) — the Web-Data-Commons side of crawl
# mining: JSON-LD islands (<script type="application/ld+json">) and
# OpenGraph <meta property="og:*"> tags. Same codegen-only contract as
# links/sitemap/feed: one DOTALL regexp_extract_all for the blocks, then
# per-block field extraction — no JSON library UDF, no Python operator
# (get_json_object is JVM-side and NULL-safe on malformed payloads).

_JSONLD_BLOCK_RE = (
    r"<script[^>]*type\s*=\s*[\"']application/ld\+json[\"'][^>]*>"
    r"(.*?)</script>"
)
_OG_TAG_RE = r"(<meta[^>]*property\s*=\s*[\"']og:[^>]*>)"
_OG_PROP_RE = r"property\s*=\s*[\"']og:([A-Za-z0-9:_]+)[\"']"
_OG_CONTENT_RE = r"content\s*=\s*[\"']([^\"']*)[\"']"


def extract_jsonld(df, html_col: str = "html") -> "DataFrame":  # noqa: F821
    """(…, html) rows → one row per JSON-LD island with (ld_type,
    ld_name, ld_raw). Malformed JSON islands keep their raw text with
    NULL fields (get_json_object's NULL-on-malformed), so mining never
    drops evidence silently."""
    c = F.col(html_col)
    blocks = F.regexp_extract_all(
        c, F.lit("(?is)" + _JSONLD_BLOCK_RE), F.lit(1)
    )
    out = df.withColumn("_b", F.explode(blocks)).withColumn(
        "ld_raw", F.trim(F.col("_b"))
    )
    return (
        out.withColumn(
            "ld_type", F.get_json_object("ld_raw", "$['@type']")
        )
        .withColumn("ld_name", F.get_json_object("ld_raw", "$['name']"))
        .drop("_b")
        .filter(F.col("ld_raw") != "")
    )


def extract_og_meta(df, html_col: str = "html") -> "DataFrame":  # noqa: F821
    """(…, html) rows → one row per OpenGraph tag with (og_prop,
    og_content) — attribute order inside the tag does not matter (prop
    and content are extracted independently from the tag text). Tags
    with an empty/missing content attribute are dropped."""
    c = F.col(html_col)
    tags = F.regexp_extract_all(c, F.lit("(?is)" + _OG_TAG_RE), F.lit(1))
    entries = F.transform(
        tags,
        lambda t: F.struct(
            F.regexp_extract(t, "(?i)" + _OG_PROP_RE, 1).alias("og_prop"),
            F.regexp_extract(t, "(?i)" + _OG_CONTENT_RE, 1).alias(
                "og_content"
            ),
        ),
    )
    return (
        df.withColumn("_e", F.explode(entries))
        .withColumn("og_prop", F.col("_e.og_prop"))
        .withColumn("og_content", F.col("_e.og_content"))
        .drop("_e")
        .filter((F.col("og_prop") != "") & (F.col("og_content") != ""))
    )


# ---------------------------------------------------------------------------
# Indexability signals (r7): rel=canonical, robots meta, hreflang alternates.
#
# The page-level complement of robots.txt (operators/robots.py): a crawl
# pipeline drops noindex pages BEFORE extraction, dedups by the canonical
# URL when the page declares one, and groups language alternates via
# hreflang. The reference accepts whole pages and extracts everything
# (crates/server/src/generation.rs); at 10^12-document scale the
# indexability gate is what keeps the extraction stage from wasting work
# on pages their owners excluded — same motivation as the RFC 9309 gate,
# one level down.
#
# All three signals come out of the block-then-fields codegen chain used
# by the OpenGraph miner: regexp_extract_all the candidate tags, then
# filter/transform with per-tag field regexes so attribute ORDER inside
# the tag never matters. No Python operator, no XML library.
#
# Robots-meta token semantics (Google/Bing documented behavior, public):
#   - the content attribute is a comma-separated, case-insensitive token
#     list with optional whitespace;
#   - ``none`` is shorthand for ``noindex, nofollow``;
#   - ``noindex`` / ``nofollow`` set their flag regardless of other
#     tokens (``all`` / ``index`` / ``follow`` are the permissive
#     defaults and never override an explicit negative).
# ---------------------------------------------------------------------------

_LINK_TAG_RE = r"(<link[^>]*>)"
_REL_RE = r"""rel[\s]*=[\s]*["']([A-Za-z-]+)["']"""
_HREF_ATTR_RE = r"""href[\s]*=[\s]*["']([^"'<>]+)["']"""
_HREFLANG_RE = r"""hreflang[\s]*=[\s]*["']([A-Za-z0-9-]+)["']"""
_ROBOTS_META_RE = r"""(<meta[^>]*name[\s]*=[\s]*["']robots["'][^>]*>)"""
_META_CONTENT_RE = r"""content[\s]*=[\s]*["']([^"']*)["']"""
_NOINDEX_TOK_RE = r"(?i)(^|[,\s])[\s]*(noindex|none)[\s]*([,\s]|$)"
_NOFOLLOW_TOK_RE = r"(?i)(^|[,\s])[\s]*(nofollow|none)[\s]*([,\s]|$)"


def extract_indexability(df, html_col: str = "html") -> "DataFrame":  # noqa: F821
    """One row per page with its indexability signals:

    - ``canonical``: href of the FIRST ``<link rel="canonical">`` (''
      when absent) — attribute order inside the tag is free;
    - ``robots_meta``: content of the first ``<meta name="robots">``
      ('' when absent);
    - ``noindex`` / ``nofollow``: 0/1 flags from the token list
      (``none`` implies both; tokens are case-insensitive and
      whitespace-tolerant);
    - ``hreflang``: ';'-joined sorted ``lang=href`` pairs from
      ``<link rel="alternate" hreflang=...>`` tags ('' when none).

    Entirely codegen: regexp_extract_all + higher-order filter/
    transform + array_sort/array_join, no Python in the plan."""
    c = F.col(html_col)
    links = F.regexp_extract_all(c, F.lit("(?is)" + _LINK_TAG_RE), F.lit(1))

    def _rel(t):
        return F.lower(F.regexp_extract(t, "(?i)" + _REL_RE, 1))

    def _href(t):
        return F.regexp_extract(t, "(?i)" + _HREF_ATTR_RE, 1)

    def _lang(t):
        return F.lower(F.regexp_extract(t, "(?i)" + _HREFLANG_RE, 1))

    canonical = F.coalesce(
        F.try_element_at(
            F.transform(F.filter(links, lambda t: _rel(t) == "canonical"), _href),
            F.lit(1),
        ),
        F.lit(""),
    )
    alt = F.filter(
        links, lambda t: (_rel(t) == "alternate") & (_lang(t) != "")
    )
    hreflang = F.array_join(
        F.array_sort(
            F.transform(alt, lambda t: F.concat(_lang(t), F.lit("="), _href(t)))
        ),
        ";",
    )
    metas = F.regexp_extract_all(c, F.lit("(?is)" + _ROBOTS_META_RE), F.lit(1))
    robots_meta = F.coalesce(
        F.try_element_at(
            F.transform(
                metas, lambda t: F.regexp_extract(t, "(?i)" + _META_CONTENT_RE, 1)
            ),
            F.lit(1),
        ),
        F.lit(""),
    )
    return (
        df.withColumn("canonical", canonical)
        .withColumn("robots_meta", robots_meta)
        .withColumn(
            "noindex", robots_meta.rlike(_NOINDEX_TOK_RE).cast("int")
        )
        .withColumn(
            "nofollow", robots_meta.rlike(_NOFOLLOW_TOK_RE).cast("int")
        )
        .withColumn("hreflang", hreflang)
    )


def extract_indexability_duckdb(html_expr: str) -> str:
    """DuckDB mirror: one STRUCT with the same five fields (RE2 runs the
    identical patterns; list_filter/list_transform/list_sort mirror the
    higher-order chain)."""
    link = _LINK_TAG_RE.replace("'", "''")
    rel = _REL_RE.replace("'", "''")
    href = _HREF_ATTR_RE.replace("'", "''")
    lang = _HREFLANG_RE.replace("'", "''")
    meta = _ROBOTS_META_RE.replace("'", "''")
    cont = _META_CONTENT_RE.replace("'", "''")
    noidx = _NOINDEX_TOK_RE.replace("'", "''")
    nofol = _NOFOLLOW_TOK_RE.replace("'", "''")
    links = f"regexp_extract_all({html_expr}, '(?is){link}', 1)"
    metas = f"regexp_extract_all({html_expr}, '(?is){meta}', 1)"
    robots = (
        f"coalesce(list_extract(list_transform({metas}, "
        f"t -> regexp_extract(t, '(?i){cont}', 1)), 1), '')"
    )
    return (
        "{"
        f"'canonical': coalesce(list_extract(list_transform("
        f"list_filter({links}, t -> lower(regexp_extract(t, '(?i){rel}', 1)) "
        f"= 'canonical'), t -> regexp_extract(t, '(?i){href}', 1)), 1), ''), "
        f"'robots_meta': {robots}, "
        f"'noindex': case when regexp_matches({robots}, '{noidx}') "
        f"then 1 else 0 end, "
        f"'nofollow': case when regexp_matches({robots}, '{nofol}') "
        f"then 1 else 0 end, "
        f"'hreflang': coalesce(array_to_string(list_sort(list_transform("
        f"list_filter({links}, t -> lower(regexp_extract(t, '(?i){rel}', 1)) "
        f"= 'alternate' and regexp_extract(t, '(?i){lang}', 1) != ''), "
        f"t -> lower(regexp_extract(t, '(?i){lang}', 1)) || '=' || "
        f"regexp_extract(t, '(?i){href}', 1))), ';'), '')"
        "}"
    )


# ---------------------------------------------------------------------------
# Publication-date extraction (r7) — the standard crawl-pipeline heuristic
# chain (the same precedence ladder trafilatura/htmldate document as
# public practice): an explicit machine-readable date beats a rendered
# one beats a URL-path inference.
#
#   1. <meta property="article:published_time" content="ISO-8601">
#      (the OpenGraph/article namespace tag publishers emit for share
#      cards — machine-intent, highest trust);
#   2. the first <time datetime="..."> element (rendered dates);
#   3. a /YYYY/MM[/DD]/ segment in the URL path (blog permalink
#      convention; a missing day resolves to the 1st of the month).
#
# Every rung normalizes to YYYY-MM-DD by anchored prefix match — a value
# that does not START with a full ISO date ("yesterday", "Jan 5") fails
# that rung and falls through, never producing a mangled date. Years are
# constrained to 19xx/20xx so /p/1234567/8/ never reads as a date.
# Codegen-only; identical RE2-safe patterns on the DuckDB mirror.
# ---------------------------------------------------------------------------

_META_PUBDATE_RE = (
    r"""(<meta[^>]*property[\s]*=[\s]*["']article:published_time["'][^>]*>)"""
)
_TIME_DATETIME_RE = r"""<time[^>]*datetime[\s]*=[\s]*["']([^"']+)["']"""
_URL_DATE_RE = r"/((?:19|20)[0-9]{2})/([0-9]{1,2})(/([0-9]{1,2}))?/"
_ISO_PREFIX_RE = r"^([0-9]{4}-[0-9]{2}-[0-9]{2})"


def extract_page_date(
    df, html_col: str = "html", url_col: str = "url"
) -> "DataFrame":  # noqa: F821
    """Adds ``page_date`` (YYYY-MM-DD or '') and ``date_source``
    ('meta' | 'time' | 'url' | '') per the precedence ladder above."""
    c = F.col(html_col)
    metas = F.regexp_extract_all(c, F.lit("(?is)" + _META_PUBDATE_RE), F.lit(1))
    meta_raw = F.coalesce(
        F.try_element_at(
            F.transform(
                metas, lambda t: F.regexp_extract(t, "(?i)" + _META_CONTENT_RE, 1)
            ),
            F.lit(1),
        ),
        F.lit(""),
    )
    meta_date = F.regexp_extract(meta_raw, _ISO_PREFIX_RE, 1)
    time_date = F.regexp_extract(
        F.regexp_extract(c, "(?is)" + _TIME_DATETIME_RE, 1), _ISO_PREFIX_RE, 1
    )
    u = F.col(url_col)
    y = F.regexp_extract(u, _URL_DATE_RE, 1)
    mo = F.regexp_extract(u, _URL_DATE_RE, 2)
    dy = F.regexp_extract(u, _URL_DATE_RE, 4)
    url_date = F.when(y == "", F.lit("")).otherwise(
        F.concat(
            y,
            F.lit("-"),
            F.lpad(mo, 2, "0"),
            F.lit("-"),
            F.when(dy == "", F.lit("01")).otherwise(F.lpad(dy, 2, "0")),
        )
    )
    page_date = (
        F.when(meta_date != "", meta_date)
        .when(time_date != "", time_date)
        .otherwise(url_date)
    )
    date_source = (
        F.when(meta_date != "", F.lit("meta"))
        .when(time_date != "", F.lit("time"))
        .when(url_date != "", F.lit("url"))
        .otherwise(F.lit(""))
    )
    return df.withColumn("page_date", page_date).withColumn(
        "date_source", date_source
    )


def extract_page_date_duckdb(html_expr: str, url_expr: str) -> str:
    """DuckDB mirror: one STRUCT {page_date, date_source}."""
    meta = _META_PUBDATE_RE.replace("'", "''")
    cont = _META_CONTENT_RE.replace("'", "''")
    iso = _ISO_PREFIX_RE
    m_raw = (
        f"coalesce(list_extract(list_transform("
        f"regexp_extract_all({html_expr}, '(?is){meta}', 1), "
        f"t -> regexp_extract(t, '(?i){cont}', 1)), 1), '')"
    )
    m_date = f"regexp_extract({m_raw}, '{iso}', 1)"
    # the time regex contains quote characters — escape them for SQL
    tpat = _TIME_DATETIME_RE.replace("'", "''")
    t_date = (
        f"regexp_extract(regexp_extract({html_expr}, '(?is){tpat}', 1), "
        f"'{iso}', 1)"
    )
    y = f"regexp_extract({url_expr}, '{_URL_DATE_RE}', 1)"
    mo = f"regexp_extract({url_expr}, '{_URL_DATE_RE}', 2)"
    dy = f"regexp_extract({url_expr}, '{_URL_DATE_RE}', 4)"
    u_date = (
        f"(case when {y} = '' then '' else {y} || '-' || lpad({mo}, 2, '0') "
        f"|| '-' || (case when {dy} = '' then '01' "
        f"else lpad({dy}, 2, '0') end) end)"
    )
    return (
        "{"
        f"'page_date': (case when {m_date} != '' then {m_date} "
        f"when {t_date} != '' then {t_date} else {u_date} end), "
        f"'date_source': (case when {m_date} != '' then 'meta' "
        f"when {t_date} != '' then 'time' "
        f"when {u_date} != '' then 'url' else '' end)"
        "}"
    )


# ---------------------------------------------------------------------------
# SURT keys + CDXJ lines (r7) — the index side of the Common Crawl
# derivative family (WARC is the capture, WET the text, WAT the
# metadata, CDX the URL index). SURT (Sort-friendly URI Reordering
# Transform, public wayback/pywb convention): lowercase, scheme and
# leading www. dropped, host labels REVERSED and comma-joined, ')' then
# the path, query parameters sorted — so one lexicographic sort clusters
# every capture of a host/path family. Documented subset (same policy as
# canonicalize_url): no percent-decoding, no session-param stripping.
#
# Everything is codegen — split/reverse/array_sort/concat — so the CDX
# line for 10^12 rows is built entirely JVM-side; Python appears only in
# the file-writing sink (sources/warc.write_cdx).
# ---------------------------------------------------------------------------

_SCHEME_PREFIX_RE = r"^https?://"
_HOST_OF_REST_RE = r"^([^/?#]*)"
_PORT_SUFFIX_RE = r":[0-9]+$"
_WWW_PREFIX_RE = r"^www\."
_QUERY_OF_REST_RE = r"\?([^#]*)"


def surt_key(url: str | Column) -> Column:
    """URL → SURT key, e.g. ``https://www.Example.org:443/A/b?b=2&a=1``
    → ``org,example)/a/b?a=1&b=2``. Empty path becomes '/'."""
    u = F.lower(F.col(url) if isinstance(url, str) else url)
    u = F.regexp_replace(u, _SCHEME_PREFIX_RE, "")
    host = F.regexp_replace(
        F.regexp_extract(u, _HOST_OF_REST_RE, 1), _PORT_SUFFIX_RE, ""
    )
    host = F.regexp_replace(host, _WWW_PREFIX_RE, "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    rest = F.regexp_replace(u, _HOST_OF_REST_RE, "")
    path = F.regexp_extract(rest, r"^([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, _QUERY_OF_REST_RE, 1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        rev,
        F.lit(")"),
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), sorted_q)),
    )


def surt_key_duckdb(url_expr: str) -> str:
    """DuckDB mirror of surt_key (string_split is literal there, so the
    host split needs no escaping)."""
    u = f"regexp_replace(lower({url_expr}), '{_SCHEME_PREFIX_RE}', '')"
    host = (
        f"regexp_replace(regexp_replace(regexp_extract({u}, "
        f"'{_HOST_OF_REST_RE}', 1), '{_PORT_SUFFIX_RE}', ''), "
        f"'{_WWW_PREFIX_RE}', '')"
    )
    rev = f"array_to_string(list_reverse(string_split({host}, '.')), ',')"
    rest = f"regexp_replace({u}, '{_HOST_OF_REST_RE}', '')"
    path = (
        f"(case when regexp_extract({rest}, '^([^?#]*)', 1) = '' then '/' "
        f"else regexp_extract({rest}, '^([^?#]*)', 1) end)"
    )
    query = f"regexp_extract({rest}, '\\?([^#]*)', 1)"
    sorted_q = f"array_to_string(list_sort(string_split({query}, '&')), '&')"
    return (
        f"({rev} || ')' || {path} || "
        f"(case when {query} = '' then '' else '?' || {sorted_q} end))"
    )


def cdx_line(
    url: str | Column,
    ts: str | Column,
    payload: str | Column,
    mime: str | Column,
    filename: str | Column,
) -> Column:
    """One CDXJ index line, fully codegen:
    ``<surt key> <ts14> {"digest":...,"filename":...,"length":...,
    "mime":...,"url":...}`` — JSON keys in sorted order, compact,
    digest ``sha256:<hex>`` of the payload octets (the modern digest;
    legacy sha1-b32 would drag the hash out of codegen on both
    engines), length = payload OCTET length. URLs/mimes/filenames are
    crawl-canonical tokens (no quotes/backslashes), so plain concat is
    JSON-safe; anything else must be quoted upstream."""
    u = F.col(url) if isinstance(url, str) else url
    t = F.col(ts) if isinstance(ts, str) else ts
    p = F.col(payload) if isinstance(payload, str) else payload
    m = F.col(mime) if isinstance(mime, str) else mime
    fn = F.col(filename) if isinstance(filename, str) else filename
    return F.concat(
        surt_key(u),
        F.lit(" "),
        F.date_format(t, "yyyyMMddHHmmss"),
        F.lit(' {"digest":"sha256:'),
        F.sha2(p.cast("binary"), 256),
        F.lit('","filename":"'),
        fn,
        F.lit('","length":'),
        F.octet_length(p).cast("string"),
        F.lit(',"mime":"'),
        m,
        F.lit('","url":"'),
        u,
        F.lit('"}'),
    )


# ---------------------------------------------------------------------------
# heading outline (r7) — the HTML side of the document-outline pair
# (pdf_real.extract_pdf_outline is the PDF side). A page's <h1>-<h6>
# sequence IS its section outline; training pipelines keep it as
# structure metadata (section titles for retrieval chunking, heading
# density as a quality signal). Codegen-only: whole-tag blocks out of
# one DOTALL regexp_extract_all (no backreference — RE2 has none, so
# the closing tag matches any </hN> level), posexplode for the
# pre-order index, then per-block level digit + tag-stripped
# whitespace-collapsed title. No XML library, no Python operator.

_HEADING_BLOCK_RE = r"(?is)<h[1-6][^>]*>.*?</h[1-6]>"
_HEADING_LEVEL_RE = r"(?i)^<h([1-6])"
_TAG_STRIP_RE = r"<[^>]*>"
_WS_COLLAPSE_RE = r"[\s]+"


def extract_headings(df, html_col: str = "html") -> "DataFrame":  # noqa: F821
    """(…, html) rows → one row per heading with (idx, level, title):
    ``idx`` the 0-based pre-order position in the page, ``level`` the
    1-6 tag digit, ``title`` the inner text with nested tags stripped
    and whitespace collapsed."""
    blocks = F.regexp_extract_all(
        F.col(html_col), F.lit(_HEADING_BLOCK_RE), F.lit(0)
    )
    b = F.col("_hblock")
    return (
        df.select("*", F.posexplode(blocks).alias("idx", "_hblock"))
        .withColumn(
            "level",
            F.regexp_extract(b, _HEADING_LEVEL_RE, 1).cast("int"),
        )
        .withColumn(
            "title",
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(b, _TAG_STRIP_RE, ""),
                    _WS_COLLAPSE_RE,
                    " ",
                )
            ),
        )
        .drop("_hblock")
    )


# ---------------------------------------------------------------------------
# anchor-text aggregation (r7) — the classic web-corpus link derivative:
# the anchor texts pointing AT a url describe that url (search ranking,
# query-document training pairs, entity aliases). Whole <a>...</a>
# blocks from one DOTALL extract (the href-only extractor above loses
# the text), per-block href + tag-stripped text, RFC 3986 resolution,
# then ONE hash aggregation keyed by the resolved target — the only
# shuffle, and it moves (target, short text) pairs, never pages.

_ANCHOR_BLOCK_RE = r"(?is)<a[\s][^>]*>.*?</a>"


def extract_anchor_texts(
    df, html_col: str = "html", base_col: str = "url"
) -> "DataFrame":  # noqa: F821
    """(base url, html) rows → one row per anchor with (href, resolved,
    anchor_text). Pseudo-links (javascript:/mailto:/tel:/data:/#) and
    hrefless anchors are dropped; text is tag-stripped and
    whitespace-collapsed (may be '' for image anchors)."""
    blocks = F.regexp_extract_all(
        F.col(html_col), F.lit(_ANCHOR_BLOCK_RE), F.lit(0)
    )
    b = F.col("_ablock")
    href = F.regexp_extract(b, "(?i)" + _HREF_ATTR_RE, 1)
    text = F.trim(
        F.regexp_replace(
            F.regexp_replace(b, _TAG_STRIP_RE, ""), _WS_COLLAPSE_RE, " "
        )
    )
    return (
        df.select("*", F.explode(blocks).alias("_ablock"))
        .withColumn("href", href)
        .filter((F.col("href") != "") & ~F.col("href").rlike(_NONLINK_RE))
        .withColumn("resolved", absolutize_href(base_col, "href"))
        .withColumn("anchor_text", text)
        .drop("_ablock")
    )


# ---------------------------------------------------------------------------
# HTML table extraction (r7) — the Web-Data-Commons web-tables shape:
# relational data published as <table> markup, normalized to one row per
# CELL with (table_idx, row_idx, col_idx, is_header, text). Three
# codegen extract+posexplode levels (tables → rows → cells), per-cell
# tag-strip + whitespace-collapse. Regex-level scope: NON-NESTED tables
# (an inner <table> inside a cell ends the outer block early — the
# corpus writer never nests; a tree parser is the escalation path, not
# a regex fix). No XML library, no Python operator.

_TABLE_BLOCK_RE = r"(?is)<table[^>]*>.*?</table>"
_TR_BLOCK_RE = r"(?is)<tr[^>]*>.*?</tr>"
_CELL_BLOCK_RE = r"(?is)<t[dh][^>]*>.*?</t[dh]>"
_TH_RE = r"(?i)^<th"


def extract_tables(df, html_col: str = "html") -> "DataFrame":  # noqa: F821
    """(…, html) rows → one row per table CELL: (table_idx, row_idx,
    col_idx, is_header, cell_text), all 0-based pre-order positions."""
    tables = F.regexp_extract_all(
        F.col(html_col), F.lit(_TABLE_BLOCK_RE), F.lit(0)
    )
    step1 = df.select(
        "*", F.posexplode(tables).alias("table_idx", "_tbl")
    )
    trs = F.regexp_extract_all(F.col("_tbl"), F.lit(_TR_BLOCK_RE), F.lit(0))
    step2 = step1.select(
        "*", F.posexplode(trs).alias("row_idx", "_tr")
    ).drop("_tbl")
    cells = F.regexp_extract_all(
        F.col("_tr"), F.lit(_CELL_BLOCK_RE), F.lit(0)
    )
    c = F.col("_cell")
    return (
        step2.select("*", F.posexplode(cells).alias("col_idx", "_cell"))
        .drop("_tr")
        .withColumn("is_header", c.rlike(_TH_RE).cast("int"))
        .withColumn(
            "cell_text",
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(c, _TAG_STRIP_RE, ""),
                    _WS_COLLAPSE_RE,
                    " ",
                )
            ),
        )
        .drop("_cell")
    )


# ---------------------------------------------------------------------------
# page-asset inventory (r7) — the subresources a page pulls in (images,
# scripts, stylesheets, iframes): the page-requisites side of crawl
# planning (asset fetch queues, CDN/tracker analysis, weight audits).
# ONE codegen extract over a combined tag alternation, then per-block
# kind classification and src/href field extraction — a single pass
# over the html, not one scan per tag kind.

_ASSET_BLOCK_RE = r"(?is)<(?:img|script|iframe|link)[\s][^>]*>"
_ASSET_KIND_RE = r"(?i)^<(img|script|iframe|link)"
_SRC_ATTR_RE = r"""(?i)[\s]src[\s]*=[\s]*["']([^"'<>]+)["']"""
_STYLESHEET_RE = r"""(?i)rel[\s]*=[\s]*["']stylesheet["']"""


def extract_assets(
    df, html_col: str = "html", base_col: str = "url"
) -> "DataFrame":  # noqa: F821
    """(base url, html) rows → one row per subresource with (kind, src,
    resolved). ``kind`` is img/script/iframe/stylesheet; <link> tags
    count only when rel=stylesheet (icons/canonicals belong to
    extract_indexability); src-less tags (inline scripts) are
    dropped."""
    blocks = F.regexp_extract_all(
        F.col(html_col), F.lit(_ASSET_BLOCK_RE), F.lit(0)
    )
    b = F.col("_asset")
    tag = F.lower(F.regexp_extract(b, _ASSET_KIND_RE, 1))
    src = F.when(
        tag == "link",
        F.when(
            b.rlike(_STYLESHEET_RE),
            F.regexp_extract(b, "(?i)" + _HREF_ATTR_RE, 1),
        ).otherwise(F.lit("")),
    ).otherwise(F.regexp_extract(b, _SRC_ATTR_RE, 1))
    return (
        df.select("*", F.explode(blocks).alias("_asset"))
        .withColumn("kind", F.when(tag == "link", "stylesheet").otherwise(tag))
        .withColumn("src", src)
        .filter(F.col("src") != "")
        .withColumn("resolved", absolutize_href(base_col, "src"))
        .drop("_asset")
    )


# ---------------------------------------------------------------------------
# image-caption pairs (r7) — the multimodal training derivative: an
# <img>'s alt text is the human-written caption for its image (the
# LAION/alt-text mining pattern). Per-img rows with the resolved image
# url, the alt text, and simple caption-quality features; pages also
# get an alt-coverage rate (an accessibility/quality signal).

_IMG_TAG_RE = r"(?is)<img[\s][^>]*>"
_ALT_ATTR_RE = r"""(?i)alt[\s]*=[\s]*["']([^"'<>]*)["']"""


def extract_img_captions(
    df, html_col: str = "html", base_col: str = "url"
) -> "DataFrame":  # noqa: F821
    """(base url, html) rows → one row per <img> with (img_idx, src,
    resolved, alt, has_alt, alt_words). Images without src drop (data
    URIs are filtered as pseudo-links upstream of training pipelines);
    alt-less or empty-alt images keep the row with has_alt = 0 — the
    denominator of the page's alt-coverage rate."""
    blocks = F.regexp_extract_all(
        F.col(html_col), F.lit(_IMG_TAG_RE), F.lit(0)
    )
    b = F.col("_img")
    src = F.regexp_extract(b, _SRC_ATTR_RE, 1)
    alt = F.trim(
        F.regexp_replace(
            F.regexp_extract(b, _ALT_ATTR_RE, 1), _WS_COLLAPSE_RE, " "
        )
    )
    return (
        df.select("*", F.posexplode(blocks).alias("img_idx", "_img"))
        .withColumn("src", src)
        .filter(F.col("src") != "")
        .withColumn("resolved", absolutize_href(base_col, "src"))
        .withColumn("alt", alt)
        .withColumn("has_alt", (F.col("alt") != "").cast("int"))
        .withColumn(
            "alt_words",
            F.when(F.col("alt") == "", F.lit(0)).otherwise(
                F.size(F.split(F.col("alt"), " "))
            ).cast("int"),
        )
        .drop("_img")
    )
