"""URL canonicalization / domain extraction / recrawl dedup semantics."""

import datetime

from pyspark.sql import functions as F

from linguistjs_spark.operators.url_ops import (
    canonical_url_col,
    domain_col,
    domain_rollup,
    url_dedup,
)

CASES = [
    # (input, canonical, domain)
    ("HTTPS://WWW.Example.COM/Path#frag", "https://www.example.com/Path",
     "www.example.com"),                      # path case preserved, host lowered
    ("http://a.example:80/x", "http://a.example/x", "a.example"),
    ("https://a.example:443/x", "https://a.example/x", "a.example"),
    ("https://a.example:80/x", "https://a.example:80/x", "a.example"),  # 80 not default for https
    ("http://a.example:8080/x", "http://a.example:8080/x", "a.example"),
    ("https://a.example", "https://a.example/", "a.example"),           # empty path -> '/'
    ("https://a.example/?q=1&r=2", "https://a.example/?q=1&r=2", "a.example"),  # query preserved
    ("ftp://Host.Example/File", "ftp://host.example/File", "host.example"),
    ("not a url #frag", "not a url ", ""),     # schemeless: only fragment stripped
    ("https://a.example/x#one#two", "https://a.example/x", "a.example"),
]


def test_canonicalization_cases(spark):
    df = spark.createDataFrame([(i, u) for i, (u, _, _) in enumerate(CASES)],
                               "i long, url string")
    rows = {r.i: (r.c, r.d) for r in df.select(
        "i",
        canonical_url_col(F.col("url")).alias("c"),
        domain_col(F.col("url")).alias("d"),
    ).collect()}
    for i, (u, want_c, want_d) in enumerate(CASES):
        assert rows[i] == (want_c, want_d), (u, rows[i])


def test_url_dedup_latest_crawl_wins(spark):
    t0 = datetime.datetime(2026, 1, 1)
    t1 = datetime.datetime(2026, 1, 2)
    pages = spark.createDataFrame(
        [
            ("HTTPS://A.example/x#v1", t0, "old"),
            ("https://a.example/x", t1, "new"),
            ("https://b.example/y", t0, "only"),
        ],
        "url string, warc_ts timestamp, text string",
    )
    got = {r.url_canon: r for r in url_dedup(pages).collect()}
    assert set(got) == {"https://a.example/x", "https://b.example/y"}
    a = got["https://a.example/x"]
    assert (a.n_crawls, a.text, a.url) == (2, "new", "https://a.example/x")
    assert got["https://b.example/y"].n_crawls == 1


def test_url_dedup_tie_breaks_on_url_string(spark):
    t = datetime.datetime(2026, 1, 1)
    pages = spark.createDataFrame(
        [("https://a.example/x#a", t, "pa"), ("https://a.example/x#b", t, "pb")],
        "url string, warc_ts timestamp, text string",
    )
    rows = url_dedup(pages).collect()
    assert len(rows) == 1
    # same timestamp: lexicographically larger raw url wins, deterministically
    assert rows[0].url == "https://a.example/x#b"


def test_domain_rollup_counts_and_single_shuffle(spark):
    t = datetime.datetime(2026, 1, 1)
    pages = spark.createDataFrame(
        [
            ("https://a.example/1", t, "xx"),
            ("HTTPS://A.EXAMPLE/1#f", t, "yyy"),   # same canonical as row 1
            ("https://a.example/2", t, "z"),
            ("https://b.example/1", t, "wwww"),
        ],
        "url string, warc_ts timestamp, text string",
    )
    exact = domain_rollup(pages, exact_urls=True)
    got = {r.domain: (r.n_docs, r.total_bytes, r.n_urls) for r in exact.collect()}
    assert got["a.example"] == (3, 6, 2)
    assert got["b.example"] == (1, 4, 1)
    # default (sketch) mode: same answer here, and only ONE exchange in the
    # final plan — the HLL++ partial agg merges map-side (Zipf skew shield)
    approx = domain_rollup(pages)
    got_a = {r.domain: r.n_urls for r in approx.collect()}
    assert got_a == {"a.example": 2, "b.example": 1}
    plan = approx._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1
    assert "HashAggregate" in final


def test_domain_suffixes(spark):
    from linguistjs_spark.operators.url_ops import domain_suffixes_col

    df = spark.createDataFrame(
        [(1, "https://a.b.example.com:443/x"), (2, "no scheme")],
        "i long, url string",
    )
    got = {r.i: r.s for r in
           df.select("i", domain_suffixes_col(F.col("url")).alias("s")).collect()}
    assert got[1] == ["a.b.example.com", "b.example.com", "example.com", "com"]
    assert got[2] == []


def test_blocklist_filters_subdomains(spark):
    import datetime

    from linguistjs_spark.operators.url_ops import filter_blocked_domains

    t = datetime.datetime(2026, 1, 1)
    pages = spark.createDataFrame(
        [
            ("https://bad.example/x", t, "a"),
            ("https://cdn.bad.example/y", t, "b"),     # subdomain -> blocked
            ("https://notbad.example/z", t, "c"),      # NOT a subdomain
            ("https://good.example/w", t, "d"),
            ("https://BAD.EXAMPLE/upper", t, "e"),     # case-folded -> blocked
        ],
        "url string, warc_ts timestamp, text string",
    )
    bl = spark.createDataFrame([("bad.example",)], "domain string")
    kept = sorted(r.url for r in filter_blocked_domains(pages, bl).collect())
    assert kept == ["https://good.example/w", "https://notbad.example/z"]


def test_canonicalization_idempotent(spark):
    import random

    from linguistjs_spark.operators.url_ops import canonical_url_col

    rng = random.Random(17)
    parts = ["https://", "HTTP://", "ftp://", "", "Host.EX", "a.b.c", ":443",
             ":80", ":8080", "/p/x", "/", "?q=1", "#f", "#a#b", "..", "%20"]
    urls = ["".join(rng.choice(parts) for _ in range(rng.randint(1, 6)))
            for _ in range(300)]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)],
                               "i long, url string")
    rows = df.select(
        "i",
        canonical_url_col(F.col("url")).alias("c1"),
        canonical_url_col(canonical_url_col(F.col("url"))).alias("c2"),
    ).collect()
    for r in rows:
        assert r.c1 == r.c2, (urls[r.i], r.c1, r.c2)


def test_crawl_delta_statuses(spark):
    """All four statuses; within-snapshot recrawl duplicates collapse to
    the latest row before diffing (an old stale crawl never aliases as a
    change); NULL text fingerprints as empty."""
    import datetime as dt

    from linguistjs_spark.operators.url_ops import crawl_delta

    t0 = dt.datetime(2020, 1, 1)

    def row(url, sec, text):
        return (url, t0 + dt.timedelta(seconds=sec), text)

    old = spark.createDataFrame(
        [
            row("https://e.x/same", 1, "alpha"),
            row("https://e.x/diff", 1, "beta"),
            row("https://e.x/gone", 1, "omega"),
            # recrawl dup: stale body at sec 1, final body at sec 5 —
            # the sec-5 row must be the one compared
            row("https://e.x/dup", 1, "stale"),
            row("https://e.x/dup", 5, "final"),
            row("https://e.x/nulls", 1, None),
        ],
        "url string, warc_ts timestamp, text string",
    )
    new = spark.createDataFrame(
        [
            row("https://e.x/same", 9, "alpha"),
            row("https://e.x/diff", 9, "beta2"),
            row("https://e.x/fresh", 9, "hello"),
            row("https://e.x/dup", 9, "final"),
            row("https://e.x/nulls", 9, None),
        ],
        "url string, warc_ts timestamp, text string",
    )
    got = {r.url_canon: r.status for r in crawl_delta(old, new).collect()}
    assert got == {
        "https://e.x/same": "unchanged",
        "https://e.x/diff": "changed",
        "https://e.x/gone": "gone",
        "https://e.x/fresh": "new",
        "https://e.x/dup": "unchanged",
        "https://e.x/nulls": "unchanged",
    }


def test_crawl_delta_fingerprints_before_shuffle(spark):
    """The plan must not carry the text column through any Exchange —
    the operator's 100-TB contract is that only (url, ts, 32-char md5)
    ever shuffles."""
    import datetime as dt

    from linguistjs_spark.operators.url_ops import crawl_delta

    rows = [("https://e.x/a", dt.datetime(2020, 1, 1), "body")]
    old = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string")
    new = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string")
    plan = crawl_delta(old, new)._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_politeness_schedule_caps_per_host_per_batch(spark):
    from linguistjs_spark.operators.url_ops import politeness_schedule

    rows = [(f"https://hot.example/p{i:03d}", i % 3) for i in range(25)]
    rows += [(f"https://cold.example/q{i}", 9) for i in range(2)]
    frontier = spark.createDataFrame(rows, "url string, prio int")
    out = politeness_schedule(frontier, per_host_per_batch=10).collect()
    assert len(out) == 27
    per = {}
    for r in out:
        per.setdefault((r["host"], r["batch"]), []).append(r["slot"])
    for (host, batch), slots in per.items():
        assert len(slots) <= 10
        assert sorted(slots) == list(range(len(slots)))  # dense 0-based
    assert {r["batch"] for r in out if r["host"] == "hot.example"} == {0, 1, 2}
    assert {r["batch"] for r in out if r["host"] == "cold.example"} == {0}


def test_politeness_priority_order_and_determinism(spark):
    from linguistjs_spark.operators.url_ops import politeness_schedule

    rows = [
        ("https://h.example/low", 1),
        ("https://h.example/high", 9),
        ("https://h.example/mid-b", 5),
        ("https://h.example/mid-a", 5),  # tie -> url asc
    ]
    frontier = spark.createDataFrame(rows, "url string, prio int")
    got = {
        r["url"]: (r["batch"], r["slot"])
        for r in politeness_schedule(
            frontier, per_host_per_batch=2, priority_col="prio"
        ).collect()
    }
    assert got == {
        "https://h.example/high": (0, 0),
        "https://h.example/mid-a": (0, 1),
        "https://h.example/mid-b": (1, 0),
        "https://h.example/low": (1, 1),
    }
    got2 = {
        r["url"]: (r["batch"], r["slot"])
        for r in politeness_schedule(
            frontier, per_host_per_batch=2, priority_col="prio"
        ).collect()
    }
    assert got == got2


def test_politeness_single_window_shuffle(spark):
    from linguistjs_spark.operators.url_ops import politeness_schedule

    frontier = spark.createDataFrame(
        [("https://a.example/x",)], "url string"
    )
    plan = politeness_schedule(frontier)._jdf.queryExecution() \
        .executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_snapshot_merge_origins_and_winner_rows(spark):
    """All four origins; carried rows keep the BASE row's warc_ts (the
    no-rewrite property), inserted/updated take the new row's; gone rows
    are dropped by default and tombstoned under keep_gone=True."""
    import datetime as dt

    from linguistjs_spark.operators.url_ops import snapshot_merge

    t0 = dt.datetime(2020, 1, 1)

    def row(url, sec, text):
        return (url, t0 + dt.timedelta(seconds=sec), text)

    old = spark.createDataFrame(
        [
            row("https://e.x/same", 1, "alpha"),
            row("https://e.x/diff", 2, "beta"),
            row("https://e.x/gone", 3, "omega"),
        ],
        "url string, warc_ts timestamp, text string",
    )
    new = spark.createDataFrame(
        [
            row("https://e.x/same", 9, "alpha"),
            row("https://e.x/diff", 9, "beta2"),
            row("https://e.x/fresh", 9, "hello"),
        ],
        "url string, warc_ts timestamp, text string",
    )
    got = {r.url_canon: (r.origin, r.warc_ts)
           for r in snapshot_merge(old, new).collect()}
    assert set(got) == {
        "https://e.x/same", "https://e.x/diff", "https://e.x/fresh"}
    assert got["https://e.x/same"] == ("carried", t0 + dt.timedelta(seconds=1))
    assert got["https://e.x/diff"] == ("updated", t0 + dt.timedelta(seconds=9))
    assert got["https://e.x/fresh"] == (
        "inserted", t0 + dt.timedelta(seconds=9))

    with_gone = {r.url_canon: r.origin for r in
                 snapshot_merge(old, new, keep_gone=True).collect()}
    assert with_gone["https://e.x/gone"] == "gone"
    assert len(with_gone) == 4


def test_snapshot_merge_fingerprints_before_shuffle(spark):
    """Same 100-TB contract as crawl_delta: text never rides an Exchange
    — each side is reduced to (url, ts, md5) before its dedup shuffle."""
    import datetime as dt

    from linguistjs_spark.operators.url_ops import snapshot_merge

    rows = [("https://e.x/a", dt.datetime(2020, 1, 1), "body")]
    old = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string")
    new = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string")
    plan = (snapshot_merge(old, new)
            ._jdf.queryExecution().executedPlan().toString())
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_domain_cap_exact_and_salt_independent(spark):
    """The two-stage salted cap must equal a plain top-N per domain, for
    any salt_buckets value (salting is a skew shield, never a semantic)."""
    import datetime as dt

    from pyspark.sql.window import Window

    from linguistjs_spark.operators.url_ops import (
        domain_col, domain_frequency_cap)

    t0 = dt.datetime(2021, 1, 1)
    rows = [
        (f"https://d{i % 3}.example/p{i}",
         t0 + dt.timedelta(seconds=(i * 37) % 101), f"t{i}")
        for i in range(120)
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, text string")
    want = sorted(
        (r.url,) for r in pages
        .withColumn("domain", domain_col(F.col("url")))
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("domain")
            .orderBy(F.col("warc_ts").desc(), F.col("url").asc())))
        .filter(F.col("rn") <= 7).select("url").collect()
    )
    for buckets in (1, 4, 64):
        got = sorted(
            (r.url,) for r in domain_frequency_cap(
                pages, max_per_domain=7, salt_buckets=buckets)
            .select("url").collect())
        assert got == want, buckets


def test_domain_cap_bounds_hot_domain_partitions(spark):
    """Skew shield: stage 1 must leave at most salt_buckets * N rows of a
    hot domain for the exact stage-2 window."""
    import datetime as dt

    from linguistjs_spark.operators.url_ops import domain_frequency_cap

    t0 = dt.datetime(2021, 1, 1)
    hot = [(f"https://hot.example/{i}", t0 + dt.timedelta(seconds=i), "x")
           for i in range(500)]
    pages = spark.createDataFrame(
        hot, "url string, warc_ts timestamp, text string")
    out = domain_frequency_cap(pages, max_per_domain=3, salt_buckets=4)
    got = [r.url for r in out.collect()]
    # exact: the 3 latest-ts urls
    assert sorted(got) == sorted(
        f"https://hot.example/{i}" for i in (499, 498, 497))


def test_strip_tracking_params_cases(spark):
    from linguistjs_spark.operators.url_ops import strip_tracking_params_col

    cases = [
        # (input, expected)
        ("https://e.x/p?utm_source=a&q=1", "https://e.x/p?q=1"),
        ("https://e.x/p?q=1&utm_campaign=c", "https://e.x/p?q=1"),
        ("https://e.x/p?utm_a=1&utm_b=2", "https://e.x/p"),
        ("https://e.x/p?fbclid=abc", "https://e.x/p"),
        ("https://e.x/p?q=1&gclid=g&r=2", "https://e.x/p?q=1&r=2"),
        ("https://e.x/p?q=1", "https://e.x/p?q=1"),        # untouched
        ("https://e.x/p", "https://e.x/p"),                # no query
        ("https://e.x/p?utmx=1", "https://e.x/p?utmx=1"),  # not utm_*
        ("https://e.x/p?sputm_a=1", "https://e.x/p?sputm_a=1"),  # mid-name
        ("https://e.x/p?_ga=1.2&x=y", "https://e.x/p?x=y"),
        # a literal '?&' inside the query survives
        ("https://e.x/p?q=a?&b=c", "https://e.x/p?q=a?&b=c"),
        ("https://e.x/p?utm_a=1&q=a?&b=c", "https://e.x/p?q=a?&b=c"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, u string")
    got = {r.i: r.s for r in df.select(
        "i", strip_tracking_params_col(F.col("u")).alias("s")).collect()}
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)


def test_strip_tracking_idempotent_and_merges_dups(spark):
    from linguistjs_spark.operators.url_ops import strip_tracking_params_col

    urls = [
        "https://e.x/a?utm_source=nl", "https://e.x/a?utm_source=tw",
        "https://e.x/a?fbclid=1", "https://e.x/a",
        "https://e.x/b?q=1&utm_medium=m", "https://e.x/b?q=1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "u string")
    s = df.select(strip_tracking_params_col(F.col("u")).alias("s"))
    assert s.distinct().count() == 2  # /a and /b?q=1
    twice = s.select(strip_tracking_params_col(F.col("s")).alias("t"))
    assert [r.t for r in twice.collect()] == [r.s for r in s.collect()]


def test_strip_tracking_fuzz_vs_twin(spark):
    """200 random URLs assembled from param/path pools vs an imperative
    re-based twin of the same 4-step chain (first-'?' anchored rewrite,
    enumerated removal, separator repair, empty-query drop)."""
    import random
    import re

    from linguistjs_spark.operators.url_ops import (
        TRACKING_PARAM_PAT, strip_tracking_params_col)

    def twin(u):
        if u is None:
            return None
        t = re.sub(r"^([^?]*)\?", r"\1?&", u)
        t = re.sub(r"&(" + TRACKING_PARAM_PAT + r")=[^&#]*", "", t)
        t = re.sub(r"^([^?]*)\?&", r"\1?", t)
        return re.sub(r"\?$", "", t)

    rng = random.Random(20260821)
    params = ["utm_source=a", "utm_campaign=camp%20x", "q=1", "page=2",
              "fbclid=IwAR123", "gclid=Cj0", "id=9", "utm_=e", "utmx=1",
              "_ga=2.1.2", "ref_src=twsrc", "spm=a.b.c", "x=", "msclkid="]
    urls = []
    for _ in range(200):
        base = rng.choice(["https://e.x/p", "http://E.x:80/a/b",
                           "ftp://h/f", "no scheme here"])
        n = rng.randrange(0, 5)
        u = base
        if n or rng.random() < 0.3:
            u += "?" + "&".join(rng.choice(params) for _ in range(max(n, 1)))
        urls.append(u)
    urls += [None, "https://e.x/?utm_a=1", "https://e.x/p?a=b?c=d&utm_x=1"]
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, u string")
    got = {r.i: r.s for r in df.select(
        "i", strip_tracking_params_col(F.col("u")).alias("s")).collect()}
    bad = [(urls[i], got[i], twin(urls[i]))
           for i in range(len(urls)) if got[i] != twin(urls[i])]
    assert bad == [], bad[:3]
