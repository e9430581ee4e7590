"""robots.txt parsing + permission evaluation (operators/robots.py):
RFC 9309 group segmentation, longest-match precedence, allow-wins-ties,
agent fallback — the crawl-politeness gate, JVM-only."""

from __future__ import annotations

from deepseek_ocr_api_rs_spark.operators.robots import (
    crawl_delays,
    parse_robots,
    robots_allowed,
    sitemaps,
)

BODY_A = """# cosmetics
User-Agent: *
Disallow: /private   # trailing comment
Allow: /private/open
Crawl-delay: 3
Unknown-key: ignored

User-agent: trainingbot
user-agent: otherbot
Disallow: /train-block
Allow: /train-block/ok

Sitemap: https://a.example/sitemap.xml
"""

BODY_B = """User-agent: *
Disallow:
"""


def _rules(spark, rows):
    df = spark.createDataFrame(rows, "host string, robots_txt string")
    return parse_robots(df)


def test_group_segmentation_and_keys(spark):
    rules = _rules(spark, [("a.example", BODY_A)]).collect()
    by_key = {}
    for r in rules:
        by_key.setdefault(r.key, []).append(r)
    # unknown key dropped; comments stripped out of values
    assert set(by_key) == {"user-agent", "allow", "disallow", "crawl-delay",
                           "sitemap"}
    assert {r.value for r in by_key["disallow"]} == {"/private", "/train-block"}
    # consecutive UA lines share ONE group
    uas = {(r.group_id, r.value.lower()) for r in by_key["user-agent"]}
    gids = {g for g, _ in uas}
    assert len(gids) == 2
    g2 = max(gids)
    assert {v for g, v in uas if g == g2} == {"trainingbot", "otherbot"}


def test_verdicts_exact_group_overrides_star(spark):
    rules = _rules(spark, [("a.example", BODY_A)])
    reqs = [
        ("a.example", "/private/x"),
        ("a.example", "/private/open/y"),
        ("a.example", "/train-block/z"),
        ("a.example", "/train-block/ok/w"),
        ("a.example", "/free"),
        ("nobots.example", "/anything"),  # host without robots → allowed
    ]
    df = spark.createDataFrame(reqs, "host string, path string")
    for agent, want in [
        # trainingbot's group has no /private rule → allowed there,
        # blocked under /train-block except the longer allow
        ("trainingbot", {"/private/x": True, "/private/open/y": True,
                         "/train-block/z": False, "/train-block/ok/w": True,
                         "/free": True, "/anything": True}),
        # otherbot shares the same group (consecutive UA lines)
        ("OTHERBOT", {"/private/x": True, "/train-block/z": False,
                      "/train-block/ok/w": True, "/private/open/y": True,
                      "/free": True, "/anything": True}),
        # unnamed agent falls back to * : /private blocked, longer allow
        # /private/open wins its tie-free longest match
        ("randombot", {"/private/x": False, "/private/open/y": True,
                       "/train-block/z": True, "/train-block/ok/w": True,
                       "/free": True, "/anything": True}),
    ]:
        got = {r.path: r.allowed
               for r in robots_allowed(rules, df, agent).collect()}
        assert got == want, (agent, got)


def test_empty_disallow_allows_everything(spark):
    rules = _rules(spark, [("b.example", BODY_B)])
    df = spark.createDataFrame(
        [("b.example", "/private/x")], "host string, path string"
    )
    got = robots_allowed(rules, df, "anybot").collect()
    assert got[0].allowed is True


def test_allow_wins_equal_length_tie(spark):
    body = "User-agent: *\nDisallow: /dir\nAllow: /dir\n"
    rules = _rules(spark, [("t.example", body)])
    df = spark.createDataFrame(
        [("t.example", "/dir/page")], "host string, path string"
    )
    assert robots_allowed(rules, df, "x").collect()[0].allowed is True


def test_crawl_delays_and_sitemaps(spark):
    rules = _rules(spark, [("a.example", BODY_A), ("b.example", BODY_B)])
    # randombot → * group of a.example (delay 3); trainingbot's group has
    # no delay; b.example has none at all
    d = {r.host: r.crawl_delay for r in crawl_delays(rules, "randombot").collect()}
    assert d == {"a.example": 3.0}
    assert crawl_delays(rules, "trainingbot").count() == 0
    s = {r.host: r.sitemap for r in sitemaps(rules).collect()}
    assert s == {"a.example": "https://a.example/sitemap.xml"}


def test_robots_plan_is_jvm_and_broadcast(spark):
    """No Python operator; the rules side reaches the requests join as a
    broadcast (the requests frame never shuffles for the verdict join)."""
    rules = _rules(spark, [("a.example", BODY_A)])
    df = spark.createDataFrame(
        [("a.example", "/private/x")], "host string, path string"
    )
    out = robots_allowed(rules, df, "trainingbot")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                   "MapInArrow"):
        assert marker not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_robots_requests_side_never_exchanges(spark):
    """ADVICE r6: the winner is now an aggregate expression over a
    broadcast per-host rule array — the ONLY Exchange in the plan is on
    the tiny rules side (feeding the broadcast), never downstream of the
    request scan. Assert by walking the plan tree: no Exchange node has
    the requests relation in its subtree."""
    rules = _rules(spark, [("a.example", BODY_A)])
    df = spark.createDataFrame(
        [("a.example", "/private/x"), ("b.example", "/x")],
        "host string, path string",
    )
    out = robots_allowed(rules, df, "trainingbot")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the broadcast build side contains the rules aggregation; the probe
    # (streamed) side must be exchange-free: in the string form, every
    # "Exchange" line sits under the BroadcastExchange subtree, so the
    # plan has no shuffle Exchange at all outside the build side —
    # equivalently no "Exchange hashpartitioning" on the requests
    # LocalTableScan lineage. Cheap proxy that held for the old bug:
    # the OLD plan had an Exchange ABOVE the BroadcastHashJoin.
    import re

    lines = plan.splitlines()
    bhj = next(
        i for i, ln in enumerate(lines) if re.search(r"BroadcastHashJoin", ln)
    )
    assert not any(
        "Exchange hashpartitioning" in ln for ln in lines[:bhj]
    ), "shuffle above the verdict join — requests frame re-exchanged"
    # duplicate request rows are preserved (documented contract)
    dup = spark.createDataFrame(
        [("a.example", "/private/x")] * 3, "host string, path string"
    )
    assert robots_allowed(rules, dup, "trainingbot").count() == 3


def test_politeness_schedule_per_host_cap(spark):
    """max_urls_per_host drops rows with seq >= cap; dropped count is
    requests - schedule rows; uncapped behavior unchanged."""
    from deepseek_ocr_api_rs_spark.operators.robots import politeness_schedule

    reqs = spark.createDataFrame(
        [("big.example", f"https://big.example/{i:03d}") for i in range(10)]
        + [("small.example", "https://small.example/only")],
        "host string, url string",
    )
    delays = spark.createDataFrame(
        [("big.example", 2.0)], "host string, crawl_delay double"
    )
    capped = politeness_schedule(
        reqs, delays, default_delay=1.0, n_shards=4, max_urls_per_host=4
    )
    rows = capped.collect()
    assert len(rows) == 5  # 4 of big + 1 of small
    big = sorted(
        (r.seq, r.url) for r in rows if r.host == "big.example"
    )
    # the KEPT rows are the FIRST 4 in deterministic url order
    assert [s for s, _ in big] == [0, 1, 2, 3]
    assert [u for _, u in big] == [
        f"https://big.example/{i:03d}" for i in range(4)
    ]
    assert reqs.count() - capped.count() == 6


def test_politeness_schedule_spacing_and_sharding(spark):
    """Per-host sequencing, delay spacing, default delay for silent
    hosts, and stable host→shard pinning (same host always same shard)."""
    from deepseek_ocr_api_rs_spark.operators.robots import politeness_schedule

    reqs = spark.createDataFrame(
        [("a.example", f"https://a.example/p/{i}") for i in range(4)]
        + [("b.example", "https://b.example/only")],
        "host string, url string",
    )
    delays = spark.createDataFrame(
        [("a.example", 2.5)], "host string, crawl_delay double"
    )
    rows = politeness_schedule(reqs, delays, default_delay=1.0, n_shards=8)
    got = {(r.host, r.url): r for r in rows.collect()}
    for i in range(4):
        r = got[("a.example", f"https://a.example/p/{i}")]
        assert r.seq == i and r.fetch_at == i * 2.5
    b = got[("b.example", "https://b.example/only")]
    assert b.seq == 0 and b.fetch_at == 0.0
    shards = {r.host: r.shard for r in got.values()}
    assert all(0 <= s < 8 for s in shards.values())
    # pinning is a pure function of host: a second run agrees
    again = {r.host: r.shard for r in politeness_schedule(
        reqs, delays, default_delay=1.0, n_shards=8
    ).collect()}
    assert again == shards


def test_wildcard_patterns_star_and_dollar(spark):
    """RFC 9309 §2.2.3 wildcards: '*' spans any run, trailing '$'
    anchors the end, mid-pattern '$' is literal, LIKE-special chars in
    patterns are escaped, and precedence counts raw pattern octets."""
    body = (
        "User-agent: *\n"
        "Disallow: /*.php$\n"
        "Allow: /printable*.php$\n"
        "Disallow: /fish*\n"
        "Allow: /fish/co\n"
        "Disallow: /money$\n"
        "Disallow: /lit_eral%\n"
    )
    rules = _rules(spark, [("w.example", body)])
    cases = {
        "/index.php": False,          # *.php$ matches
        "/index.php?x=1": True,       # $ anchor: query tail breaks match
        "/printable-v2.php": True,    # longer allow wins
        "/fishheads": False,          # /fish* prefix-with-star
        "/fish/code": True,           # /fish/co allow (8 octets) beats /fish* (6)
        "/money": False,              # exact via trailing $
        "/moneymaker": True,          # $ anchor prevents prefix match
        "/lit_eral%x": False,         # _ and % treated literally
        "/litXeral%x": True,          # LIKE _ would match X if unescaped
    }
    df = spark.createDataFrame(
        [("w.example", p) for p in cases], "host string, path string"
    )
    got = {r.path: r.allowed for r in robots_allowed(rules, df, "any").collect()}
    assert got == cases, got


def test_multiple_same_agent_groups_are_combined(spark):
    """RFC 9309 §2.2.1: two 'User-agent: *' sections combine — rules
    from BOTH apply (code-review r6: only the first was honored)."""
    body = (
        "User-agent: *\nDisallow: /a\nCrawl-delay: 2\n\n"
        "User-agent: *\nDisallow: /b\nCrawl-delay: 5\n"
    )
    rules = _rules(spark, [("m.example", body)])
    df = spark.createDataFrame(
        [("m.example", "/a/x"), ("m.example", "/b/y"), ("m.example", "/c")],
        "host string, path string",
    )
    got = {r.path: r.allowed for r in robots_allowed(rules, df, "bot").collect()}
    assert got == {"/a/x": False, "/b/y": False, "/c": True}
    d = {r.host: r.crawl_delay for r in crawl_delays(rules, "bot").collect()}
    assert d == {"m.example": 5.0}  # most conservative of the combined groups
