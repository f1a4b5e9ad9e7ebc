"""robots.txt Disallow parsing + filtering (operators/robots.py).

Three layers:
  * crafted-case parity: Spark native fold == Python twin on every parser
    branch (groups, multi-UA runs, CRLF, comments, empty Disallow,
    spacing/case, orphan rules, rule-less star group, None text);
  * randomized fuzz: generated robots bodies from a token pool, fold vs
    twin on all of them in one job;
  * filter semantics + plan shape: blocked set, port/fragment handling,
    no-robots-domain passthrough, broadcast join asserted (pages side
    never shuffles), and the shuffle-join fallback agrees.
"""

import random

import pytest
from pyspark.sql import functions as F

from linguistjs_spark.operators.robots import (
    filter_robots_disallowed,
    parse_robots_disallow,
    robots_blocked,
    robots_disallow_rules_col,
    robots_rules_table,
    url_path_col,
    with_robots_blocked,
)

CASES = [
    # non-star group ignored; Allow inside star group does not split it;
    # UA after a directive starts a fresh (non-star) group
    "User-agent: googlebot\nDisallow: /private\n\nUser-agent: *\n"
    "Disallow: /a\nAllow: /ok\nDisallow: /b\nUser-agent: bing\nDisallow: /c",
    # CRLF; multi-UA run shares a group; comment-only + empty Disallow
    # lines are no-ops; trailing comment trimmed; Crawl-delay does not
    # stop later Disallows in the same group
    "User-agent: a\r\nUser-agent: *\r\nDisallow: /d\r\n# note\r\n"
    "Disallow:\r\nDisallow: /e # staging\r\nCrawl-delay: 5\r\nDisallow: /f",
    # case/spacing variants of the directive tokens
    "user-AGENT : *\nDISALLOW: /g\ndisallow\t: /h",
    # no star group at all
    "User-agent: bing\nDisallow: /i",
    # orphan Disallow before any UA line is dropped; blank line inside a
    # UA run does not split it; a run is star if ANY of its UA lines is *
    "Disallow: /orphan\nUser-agent: *\n\nUser-agent: b\nDisallow: /j",
    # rule-less star group; empty / None bodies
    "User-agent: *", "", None,
    # colon inside the rule value survives the arg extraction
    "User-agent: *\nDisallow: /p:q/r",
    # Sitemap before the star group is a directive (ruled=True) but the
    # following UA line still starts the star group
    "Sitemap: https://x/s.xml\nUser-agent: *\nDisallow: /k",
]


def test_fold_matches_twin_on_crafted_cases(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CASES)], "i int, txt string")
    got = {
        r["i"]: r["rules"]
        for r in df.select(
            "i", robots_disallow_rules_col(F.col("txt")).alias("rules")
        ).collect()
    }
    for i, t in enumerate(CASES):
        assert got[i] == parse_robots_disallow(t), (i, t)


def test_twin_spot_values():
    assert parse_robots_disallow(CASES[0]) == ["/a", "/b"]
    assert parse_robots_disallow(CASES[1]) == ["/d", "/e", "/f"]
    assert parse_robots_disallow(CASES[2]) == ["/g", "/h"]
    assert parse_robots_disallow(CASES[3]) == []
    assert parse_robots_disallow(CASES[4]) == ["/j"]
    assert parse_robots_disallow(None) == []
    assert parse_robots_disallow(CASES[8]) == ["/p:q/r"]


def test_fold_matches_twin_fuzz(spark):
    rng = random.Random(20260819)
    pool = [
        "User-agent: *", "User-agent: bot", "user-agent:*",
        "Disallow: /a", "Disallow: /b/c", "Disallow:", "Disallow: *",
        "Allow: /a", "Crawl-delay: 3", "# comment", "", "   ",
        "Disallow: /x # tail", "Sitemap: https://e/s.xml",
        "noise without colon", "User-agent: * # generic",
    ]
    texts = []
    for _ in range(200):
        n = rng.randrange(0, 12)
        sep = rng.choice(["\n", "\r\n"])
        texts.append(sep.join(rng.choice(pool) for _ in range(n)))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, txt string")
    got = {
        r["i"]: r["rules"]
        for r in df.select(
            "i", robots_disallow_rules_col(F.col("txt")).alias("rules")
        ).collect()
    }
    bad = [i for i, t in enumerate(texts)
           if got[i] != parse_robots_disallow(t)]
    assert bad == [], [(i, texts[i], got[i], parse_robots_disallow(texts[i]))
                       for i in bad[:3]]


def test_url_path_col(spark):
    df = spark.createDataFrame(
        [("https://a.example",), ("https://a.example/x?q=1#f",),
         ("HTTPS://A.EXAMPLE:443/p/1",), ("not a url",)],
        "url string")
    paths = [r[0] for r in df.select(url_path_col(F.col("url"))).collect()]
    assert paths == ["/", "/x?q=1", "/p/1", "not a url"]


@pytest.fixture()
def pages_and_robots(spark):
    pages = spark.createDataFrame(
        [
            (1, "https://a.example/a/doc"),       # blocked by /a
            (2, "https://a.example/ab"),          # blocked: /a prefixes /ab
            (3, "https://a.example/ok"),          # kept
            (4, "https://A.EXAMPLE:443/b/x"),     # blocked (case+port)
            (5, "https://b.example/a/doc"),       # kept: no robots row
            (6, "https://a.example/a/doc#frag"),  # blocked (fragment gone)
            (7, "https://a.example"),             # kept: path '/' no match
        ],
        "doc_id int, url string",
    )
    robots = spark.createDataFrame(
        [("https://a.example/robots.txt", CASES[0]),
         ("https://c.example/robots.txt", CASES[3])],
        "url string, robots_txt string",
    )
    return pages, robots


def test_filter_blocked_set(spark, pages_and_robots):
    pages, robots = pages_and_robots
    flagged = with_robots_blocked(pages, robots)
    got = {r["doc_id"]: r["robots_blocked"]
           for r in flagged.collect()}
    assert got == {1: True, 2: True, 3: False, 4: True, 5: False,
                   6: True, 7: False}
    kept = filter_robots_disallowed(pages, robots)
    assert sorted(r["doc_id"] for r in kept.collect()) == [3, 5, 7]
    # passthrough: no helper columns leak
    assert set(kept.columns) == {"doc_id", "url"}


def test_shuffle_join_fallback_agrees(spark, pages_and_robots):
    pages, robots = pages_and_robots
    a = sorted(
        (r["doc_id"], r["robots_blocked"])
        for r in with_robots_blocked(pages, robots).collect())
    b = sorted(
        (r["doc_id"], r["robots_blocked"])
        for r in with_robots_blocked(
            pages, robots, broadcast_rules=False).collect())
    assert a == b


def test_plan_broadcast_no_page_shuffle(spark, pages_and_robots):
    pages, robots = pages_and_robots
    plan = with_robots_blocked(pages, robots)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the PAGES side must never shuffle for the join: the only permitted
    # hash exchange is the rules table's per-domain duplicate collapse
    # (KiB-sized), which must not carry any pages column
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "domain#" in line and "url#" not in line \
                and "doc_id#" not in line, line


def test_rules_table_and_twin_match_helper():
    rules = parse_robots_disallow(CASES[0])
    assert robots_blocked("/a/doc", rules)
    assert robots_blocked("/ab", rules)
    assert not robots_blocked("/ok", rules)
    assert not robots_blocked("/", rules)


def test_rules_table_domains(spark):
    robots = spark.createDataFrame(
        [("https://A.Example:8080/robots.txt", CASES[0])],
        "url string, robots_txt string")
    row = robots_rules_table(robots).collect()[0]
    assert row["domain"] == "a.example"
    assert row["rules"] == ["/a", "/b"]


def test_sitemaps_extraction(spark):
    """Sitemap lines are location-independent (not group-scoped): found
    inside non-star groups, before any group, CRLF, with comments."""
    from linguistjs_spark.operators.robots import (
        parse_robots_sitemaps, robots_sitemaps_col)

    texts = [
        "Sitemap: https://a/s1.xml\nUser-agent: bot\nDisallow: /x\n"
        "sitemap: https://a/s2.xml # main\r\nSitemap:\nSITEMAP : https://a/s3.xml",
        "", None, "User-agent: *\nDisallow: /x",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, txt string")
    got = {r["i"]: r["sm"] for r in df.select(
        "i", robots_sitemaps_col(F.col("txt")).alias("sm")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == parse_robots_sitemaps(t), (i, t)
    assert got[0] == ["https://a/s1.xml", "https://a/s2.xml",
                      "https://a/s3.xml"]
    assert got[3] == []


def test_wildcard_rule_matching(spark):
    """RFC 9309 §2.2.3 '*' / trailing-'$' semantics, Spark column vs
    python twin over a (path, rule) matrix; regex metachars inside rules
    stay literal."""
    from linguistjs_spark.operators.robots import rule_match_col

    paths = ["/p/13/doc13", "/p/5", "/p/5/doc5", "/a.b/c", "/aXb/c",
             "/p/47", "/x?q=7", "/fish.php", "/"]
    rules = ["/p/*3/doc", "/p/5$", "*7$", "/a.b", "*", "/p/",
             "/*.php", "/p/5", "$"]
    rows = [(p, r) for p in paths for r in rules]
    df = spark.createDataFrame(rows, "path string, rule string")
    got = [
        (r["path"], r["rule"], r["m"])
        for r in df.select(
            "path", "rule",
            rule_match_col(F.col("path"), F.col("rule")).alias("m"),
        ).collect()
    ]
    for p, r, m in got:
        assert m == robots_blocked(p, [r]), (p, r, m)
    mm = {(p, r): m for p, r, m in got}
    assert mm[("/p/13/doc13", "/p/*3/doc")]      # mid-rule wildcard
    assert mm[("/p/5", "/p/5$")]                 # anchor at exact end
    assert not mm[("/p/5/doc5", "/p/5$")]        # anchor rejects longer
    assert mm[("/p/47", "*7$")]                  # suffix rule
    assert mm[("/x?q=7", "*7$")]                 # query is matchable
    assert mm[("/a.b/c", "/a.b")]                # '.' literal: prefix hit
    assert not mm[("/aXb/c", "/a.b")]            # '.' is NOT regex-dot
    assert mm[("/fish.php", "/*.php")]
    assert all(mm[(p, "*")] for p in paths)      # bare '*' blocks all


def test_group_parse_collects_allow(spark):
    """Allow rules ride the same group fold; disallow projection is
    unchanged."""
    from linguistjs_spark.operators.robots import (
        parse_robots_group, robots_group_rules_col)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CASES)], "i int, txt string")
    got = {
        r["i"]: [(x["pfx"], x["allow"]) for x in r["rules"]]
        for r in df.select(
            "i", robots_group_rules_col(F.col("txt")).alias("rules")
        ).collect()
    }
    for i, t in enumerate(CASES):
        assert got[i] == parse_robots_group(t), (i, t)
    assert got[0] == [("/a", False), ("/ok", True), ("/b", False)]


def test_allow_precedence_semantics(spark):
    """RFC 9309 §2.2.2: longest matching rule wins, Allow wins ties;
    no-match default is allowed; wildcard specificity = raw rule
    length."""
    from linguistjs_spark.operators.robots import (
        parse_robots_group, robots_blocked_precedence, with_robots_blocked)

    txt = ("User-agent: *\n"
           "Disallow: /\n"
           "Allow: /public\n"
           "Disallow: /public/private\n"
           "Allow: /tie\nDisallow: /tie\n"
           "Disallow: /p/*7\nAllow: /p/*7/doc\n")
    rules = parse_robots_group(txt)
    cases = {
        "/": True,                       # only Disallow: / matches
        "/x": True,
        "/public/a": False,              # Allow /public beats Disallow /
        "/public/private/a": True,       # deeper Disallow beats Allow
        "/tie": False,                   # equal length -> Allow wins
        "/p/17/doc17": False,            # wildcard allow (9) > dis (5)
    }
    for p, want in cases.items():
        assert robots_blocked_precedence(p, rules) == want, p

    pages = spark.createDataFrame(
        [(p,) for p in cases], "path string").selectExpr(
        "concat('https://a.example', path) AS url")
    robots = spark.createDataFrame(
        [("https://a.example/robots.txt", txt)],
        "url string, robots_txt string")
    got = {
        r["url"]: r["robots_blocked"]
        for r in with_robots_blocked(
            pages, robots, allow_precedence=True).collect()
    }
    for p, want in cases.items():
        assert got[f"https://a.example{p}"] == want, p
    # conservative default ignores Allow: /public/a is blocked by '/'
    got_cons = {
        r["url"]: r["robots_blocked"]
        for r in with_robots_blocked(pages, robots).collect()
    }
    assert got_cons["https://a.example/public/a"] is True


def test_sitemap_locs_extraction(spark):
    """<loc> scan survives tag soup: mixed-case tags, whitespace, all
    five XML entities (&amp; decoded LAST), empty locs dropped, NULL
    body, sitemapindex nesting."""
    from linguistjs_spark.operators.robots import (
        parse_sitemap_locs, sitemap_locs_col)

    texts = [
        '<?xml version="1.0"?><urlset><url><loc> https://a/x?a=1&amp;b=2 '
        '</loc></url><url><LOC>https://a/y</LOC></url>'
        '<url><loc></loc></url><url><loc>   </loc></url></urlset>',
        '<sitemapindex><sitemap><loc>https://a/s1.xml</loc></sitemap>'
        '<sitemap><Loc>\nhttps://a/s2.xml\n</Loc></sitemap></sitemapindex>',
        '<loc>&lt;odd&gt; &quot;q&quot; &apos;a&apos; &amp;lt;</loc>',
        "no xml at all", "", None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, xml string")
    got = {r["i"]: r["locs"] for r in df.select(
        "i", sitemap_locs_col(F.col("xml")).alias("locs")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == parse_sitemap_locs(t), (i, t)
    assert got[0] == ["https://a/x?a=1&b=2", "https://a/y"]
    assert got[1] == ["https://a/s1.xml", "https://a/s2.xml"]
    # &amp;lt; -> literal '&lt;' (decode order), quotes/apostrophes live
    assert got[2] == ['<odd> "q" \'a\' &lt;']
    assert got[3] == [] and got[4] == [] and got[5] == []


def test_review_findings_regressions(spark):
    """Round-5 review fixes: BOM-prefixed bodies parse; CR-only line
    endings parse; query-only URLs match as '/?query'; duplicate robots
    rows per domain do not fan pages out."""
    from linguistjs_spark.operators.robots import (
        robots_disallow_rules_col as rules_col)

    bodies = [
        "﻿User-agent: *\nDisallow: /x",       # BOM
        "User-agent: *\rDisallow: /a\rDisallow: /b",  # bare-CR endings
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(bodies)], "i int, txt string")
    got = {r["i"]: r["rules"]
           for r in df.select("i", rules_col(F.col("txt")).alias("rules"))
           .collect()}
    assert got[0] == parse_robots_disallow(bodies[0]) == ["/x"]
    assert got[1] == parse_robots_disallow(bodies[1]) == ["/a", "/b"]

    # query-only URL: 'Disallow: /' must cover https://h?q=1
    paths = [r[0] for r in spark.createDataFrame(
        [("https://a.example?q=1",)], "url string"
    ).select(url_path_col(F.col("url"))).collect()]
    assert paths == ["/?q=1"]
    pages = spark.createDataFrame(
        [(1, "https://a.example?q=1"), (2, "https://a.example/ok")],
        "doc_id int, url string")
    robots = spark.createDataFrame(
        [("https://a.example/robots.txt", "User-agent: *\nDisallow: /?q"),
         # duplicate capture of the same domain: no fan-out, rules union
         ("https://a.example/robots.txt", "User-agent: *\nDisallow: /zz")],
        "url string, robots_txt string")
    out = with_robots_blocked(pages, robots)
    rows = out.collect()
    assert len(rows) == 2, rows  # no duplicate-row fan-out
    got2 = {r["doc_id"]: r["robots_blocked"] for r in rows}
    assert got2 == {1: True, 2: False}


def test_cluster_representatives_string_ids_and_missing_members(spark):
    """Round-5 review fixes: string ids order correctly on quality ties;
    members absent from docs are ignored consistently in both modes."""
    from linguistjs_spark.operators.dedup import (
        cluster_representatives, dedup_survivors)

    clusters = spark.createDataFrame(
        [("u-b", "c1"), ("u-a", "c1"), ("u-z", "c2"), ("u-gone", "c2")],
        "doc_id string, cluster_id string")
    docs = spark.createDataFrame(  # u-gone absent
        [("u-a", 5.0), ("u-b", 5.0), ("u-z", 1.0)],
        "doc_id string, qual double")
    got = {r.cluster_id: (r.rep_id, r.n_members)
           for r in cluster_representatives(
               clusters, docs, quality_col="qual").collect()}
    # tie at 5.0 -> lexicographically smallest string id
    assert got == {"c1": ("u-a", 2), "c2": ("u-z", 1)}
    got_min = {r.cluster_id: (r.rep_id, r.n_members)
               for r in cluster_representatives(clusters, docs).collect()}
    # min-id mode now also ignores the absent member (modes agree)
    assert got_min == {"c1": ("u-a", 2), "c2": ("u-z", 1)}
    # survivors: no document vanishes because a missing id was picked
    kept = sorted(r.doc_id for r in dedup_survivors(
        docs, clusters).collect())
    assert kept == ["u-a", "u-z"]


def test_crawl_delay_crafted_and_twin(spark):
    from linguistjs_spark.operators.robots import (
        parse_crawl_delay, robots_crawl_delay_col)

    cases = [
        ("User-agent: *\nCrawl-delay: 5", 5.0),
        ("User-agent: *\nCrawl-delay: 2.5\nCrawl-delay: 9", 2.5),  # first wins
        ("User-agent: bing\nCrawl-delay: 5", None),        # non-star group
        ("User-agent: *\nCrawl-delay: 0", None),           # zero invalid
        ("User-agent: *\nCrawl-delay: abc", None),         # non-numeric
        ("User-agent: *\nCrawl-delay: abc\nCrawl-delay: 4", 4.0),
        ("Crawl-delay: 5", None),                          # orphan (no group)
        ("User-agent: *\nDisallow: /x\nCrawl-delay: 3 # t", 3.0),
        # directive ends the UA run: the second UA line starts a NEW group
        ("User-agent: *\nCrawl-delay: 1\nUser-agent: bot\nCrawl-delay: 9",
         1.0),
        (None, None),
        ("", None),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i int, txt string")
    got = {r["i"]: r["d"] for r in df.select(
        "i", robots_crawl_delay_col(F.col("txt")).alias("d")).collect()}
    for i, (t, want) in enumerate(cases):
        assert got[i] == want, (i, t, got[i])
        assert parse_crawl_delay(t) == want, (i, t)


def test_crawl_delay_fold_matches_twin_fuzz(spark):
    from linguistjs_spark.operators.robots import (
        parse_crawl_delay, robots_crawl_delay_col)

    rng = random.Random(20260821)
    pool = [
        "User-agent: *", "User-agent: bot", "user-agent:*",
        "Crawl-delay: 3", "crawl-delay : 0.5", "Crawl-delay: 0",
        "Crawl-delay: x", "Crawl-delay:", "Disallow: /a", "# c", "",
        "Crawl-delay: 12 # tail", "Sitemap: https://e/s.xml",
    ]
    texts = []
    for _ in range(200):
        n = rng.randrange(0, 12)
        sep = rng.choice(["\n", "\r\n", "\r"])
        texts.append(sep.join(rng.choice(pool) for _ in range(n)))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, txt string")
    got = {r["i"]: r["d"] for r in df.select(
        "i", robots_crawl_delay_col(F.col("txt")).alias("d")).collect()}
    bad = [i for i, t in enumerate(texts) if got[i] != parse_crawl_delay(t)]
    assert bad == [], [(i, texts[i], got[i], parse_crawl_delay(texts[i]))
                       for i in bad[:3]]


def test_politeness_with_delays_caps(spark):
    from linguistjs_spark.operators.url_ops import (
        politeness_schedule_with_delays)

    frontier = spark.createDataFrame(
        [(f"https://slow.example/u{i:02d}",) for i in range(6)]
        + [(f"https://fast.example/u{i:02d}",) for i in range(6)]
        + [(f"https://nodelay.example/u{i:02d}",) for i in range(6)],
        "url string",
    )
    delays = spark.createDataFrame(
        [("slow.example", 30.0),     # cap = floor(60/30) = 2
         ("fast.example", 0.001),    # cap huge -> all in batch 0
         ("huge.example", 120.0)],   # cap floored at 1 (unused host)
        "host string, crawl_delay double",
    )
    out = politeness_schedule_with_delays(
        frontier, delays, window_sec=60.0, default_per_batch=4)
    rows = {(r.host, r.url): (r.cap, r.batch, r.slot)
            for r in out.collect()}
    slow = sorted(v for (h, _), v in rows.items() if h == "slow.example")
    assert {c for c, _, _ in slow} == {2}
    assert [b for _, b, _ in slow] == [0, 0, 1, 1, 2, 2]
    fast = [v for (h, _), v in rows.items() if h == "fast.example"]
    assert all(b == 0 for _, b, _ in fast)
    nod = sorted(v for (h, _), v in rows.items() if h == "nodelay.example")
    assert {c for c, _, _ in nod} == {4}
    assert [b for _, b, _ in nod] == [0, 0, 0, 0, 1, 1]


def test_politeness_delay_longer_than_window(spark):
    """A Crawl-delay above the window is honoured by skipping batches: the
    120 s host at a 60 s window gets one fetch every second batch, not one
    per batch."""
    from linguistjs_spark.operators.url_ops import (
        politeness_schedule_with_delays)

    frontier = spark.createDataFrame(
        [(f"https://{h}.example/u{i:02d}",)
         for h in ("huge", "ninety", "window") for i in range(3)],
        "url string",
    )
    delays = spark.createDataFrame(
        [("huge.example", 120.0), ("ninety.example", 90.0),
         ("window.example", 60.0)],
        "host string, crawl_delay double",
    )
    out = politeness_schedule_with_delays(
        frontier, delays, window_sec=60.0, default_per_batch=4)
    assert "_every" not in out.columns
    got = {}
    for r in out.orderBy("url").collect():
        got.setdefault(r.host, []).append((r.cap, r.batch, r.slot))
    assert got == {
        "huge.example": [(1, 0, 0), (1, 2, 0), (1, 4, 0)],
        "ninety.example": [(1, 0, 0), (1, 2, 0), (1, 4, 0)],
        "window.example": [(1, 0, 0), (1, 1, 0), (1, 2, 0)],
    }
