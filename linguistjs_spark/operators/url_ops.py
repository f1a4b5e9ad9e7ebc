"""URL operators for web corpora: canonicalization, domain extraction,
canonical-URL dedup, per-domain rollups.

The reference's path handling (vendored/generated glob filters, common-root
relativisation — /root/reference/src/index.ts:149-193, src/helpers/
walk-tree.ts) works on file paths; for Common-Crawl-style input the path
dimension is the URL, and these are the URL-domain analogues (SURVEY.md
recasts O5/common-root as domain grouping).

Everything here is a narrow projection of conservative regexes (no
lookaround, no backrefs — the same subset RE2/DuckDB supports, so oracles
restate them verbatim) plus one aggregation where stated:

  * ``canonical_url_col`` — strip fragment; lowercase scheme + host; drop
    the scheme-default port (http:80 / https:443); empty path -> '/'.
    Query params are preserved (dropping them merges distinct resources).
  * ``domain_col`` — lowercased host without port.
  * ``url_dedup`` — one representative per canonical URL (latest
    ``warc_ts`` wins, ties broken by lexicographically LARGEST url
    string — max_by on struct(ts, url)): a single groupBy(max_by) on the
    canonical-url hash — recrawl dedup.
  * ``domain_rollup`` — docs/bytes per domain (``domain_quality_profile``
    is the same shape over the Gopher keep flag): one map-side-combined
    groupBy; at 10^12 docs domains are Zipf-skewed, so the rollup groups on
    (domain) only after the per-partition partial agg has already collapsed
    each partition's hot domains to one row each (standard partial-agg
    skew shield; no salting needed for a count/sum rollup).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCHEME_PAT = r"^([A-Za-z][A-Za-z0-9+.-]*)://"
_HOST_PAT = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
_TAIL_PAT = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"


def domain_col(url: Column) -> Column:
    """Lowercased host with any ``:port`` suffix removed; '' for
    non-URL-shaped strings (no scheme)."""
    host = F.lower(F.regexp_extract(url, _HOST_PAT, 1))
    return F.regexp_replace(host, r":[0-9]*$", "")


def canonical_url_col(url: Column) -> Column:
    """Deterministic canonical form (see module docstring). Strings without
    a ``scheme://`` prefix are returned unchanged (minus fragment)."""
    nofrag = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, _SCHEME_PAT, 1))
    host = F.lower(F.regexp_extract(nofrag, _HOST_PAT, 1))
    host = F.when(scheme == "http", F.regexp_replace(host, r":80$", "")) \
        .when(scheme == "https", F.regexp_replace(host, r":443$", "")) \
        .otherwise(host)
    tail = F.regexp_replace(nofrag, _TAIL_PAT, "")
    tail = F.when(tail == "", F.lit("/")).otherwise(tail)
    return F.when(scheme == "", nofrag).otherwise(
        F.concat(scheme, F.lit("://"), host, tail)
    )


def url_dedup(
    pages: DataFrame, url_col: str = "url", ts_col: str = "warc_ts"
) -> DataFrame:
    """One row per canonical URL: the latest crawl wins (``max_by`` on
    (warc_ts, url) — timestamp ties broken deterministically by the
    lexicographically largest raw url string).

    Single shuffle keyed on the canonical string itself. An earlier
    formulation keyed on xxhash64(url_canon) to keep the shuffle key at 8
    bytes, but a 64-bit collision there silently DROPS one of two unrelated
    pages — at the 10^12-row target, birthday math expects tens of
    thousands of such losses (ADVICE r02). The string key costs nothing
    extra: url_canon already rides the payload struct, and Spark hashes the
    key for partitioning anyway, so collisions now only co-locate rows
    instead of merging them."""
    canon = canonical_url_col(F.col(url_col))
    return (
        pages.withColumn("url_canon", canon)
        .groupBy("url_canon")
        .agg(
            F.max_by(
                F.struct("url_canon", *pages.columns),
                F.struct(F.col(ts_col), F.col(url_col)),
            ).alias("winner"),
            F.count("*").alias("n_crawls"),
        )
        .select("winner.*", "n_crawls")
    )


def crawl_delta(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff for incremental crawl processing: classify every
    canonical URL across two crawl snapshots as

      * ``new``       — in the new snapshot only (first crawl),
      * ``unchanged`` — in both, extracted text byte-identical
        (md5 fingerprint; NULL text fingerprints as the empty string),
      * ``changed``   — in both, text differs (the recrawl actually
        found new content — the only rows a downstream incremental
        pipeline must reprocess),
      * ``gone``      — in the old snapshot only (dropped from the
        crawl / dead link).

    Each side is first collapsed to one row per canonical URL
    (``url_dedup``: latest ``ts_col`` wins), so re-crawl duplicates
    WITHIN a snapshot never alias as changes.

    Returns (url_canon, status, fp_old, fp_new).

    Scale shape: two url_dedup shuffles (unavoidable — each snapshot must
    pick its winner) over rows already reduced to (url_canon, 32-char
    fingerprint, ts) — TEXT IS FINGERPRINTED BEFORE ANY SHUFFLE, so the
    wire carries ~70 bytes/row, not documents. The diff itself is one
    full_outer equi-join on the canonical string (collision-proof, same
    stance as url_dedup). At 10^12 rows all three exchanges hash-partition
    on the same key, so AQE plans the join shuffle-free on the dedup
    outputs' existing partitioning."""
    def prep(df: DataFrame, side: str) -> DataFrame:
        slim = df.select(
            F.col(url_col),
            F.col(ts_col),
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_fp"),
        )
        return url_dedup(slim, url_col=url_col, ts_col=ts_col).select(
            "url_canon", F.col("_fp").alias(f"fp_{side}"))

    o = prep(old, "old")
    n = prep(new, "new")
    joined = o.join(n, "url_canon", "full_outer")
    status = (
        F.when(F.col("fp_old").isNull(), F.lit("new"))
        .when(F.col("fp_new").isNull(), F.lit("gone"))
        .when(F.col("fp_old") == F.col("fp_new"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return joined.select("url_canon", status.alias("status"),
                         "fp_old", "fp_new")


def snapshot_merge(
    old: DataFrame,
    new: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    keep_gone: bool = False,
) -> DataFrame:
    """MERGE-INTO-shaped snapshot upsert: apply a new crawl snapshot to a
    base snapshot and emit the merged table — the write side of the
    incremental story whose read side is :func:`crawl_delta`.

    Per canonical URL the merged row's ``origin`` records what the merge
    did:

      * ``inserted`` — URL is new: take the new snapshot's row,
      * ``updated``  — text changed (md5 fingerprints differ): take the
        new row,
      * ``carried``  — text byte-identical: keep the BASE row (its
        ``warc_ts`` is preserved, so unchanged pages are not rewritten —
        the property that makes the merge cheap under Iceberg-style
        copy-on-write, where only changed partitions produce new files),
      * ``gone``     — URL dropped from the crawl: excluded unless
        ``keep_gone=True`` (soft-delete tombstones for audit).

    Returns (url_canon, origin, warc_ts, fp) — ``fp`` is the winning
    row's md5 text fingerprint, the join-back key a caller uses to fetch
    the full document from whichever snapshot ``origin`` points at.

    Scale shape — identical to ``crawl_delta``'s contract: each side is
    first collapsed by ``url_dedup`` over rows ALREADY reduced to
    (url, ts, 32-char fingerprint) — text never shuffles — then ONE
    full_outer equi-join on the canonical string. All three exchanges
    hash-partition on ``url_canon``, so AQE plans the join shuffle-free
    on the dedup outputs' existing partitioning, and writing the merged
    table partitioned by url-hash bucket keeps the next round's merge
    co-located too."""
    def prep(df: DataFrame, side: str) -> DataFrame:
        slim = df.select(
            F.col(url_col),
            F.col(ts_col),
            F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("_fp"),
        )
        return url_dedup(slim, url_col=url_col, ts_col=ts_col).select(
            "url_canon",
            F.col(ts_col).alias(f"ts_{side}"),
            F.col("_fp").alias(f"fp_{side}"),
        )

    j = prep(old, "old").join(prep(new, "new"), "url_canon", "full_outer")
    origin = (
        F.when(F.col("fp_old").isNull(), F.lit("inserted"))
        .when(F.col("fp_new").isNull(), F.lit("gone"))
        .when(F.col("fp_old") == F.col("fp_new"), F.lit("carried"))
        .otherwise(F.lit("updated"))
    )
    j = j.withColumn("origin", origin)
    take_new = F.col("origin").isin("inserted", "updated")
    merged = j.select(
        "url_canon",
        "origin",
        F.when(take_new, F.col("ts_new")).otherwise(F.col("ts_old"))
         .alias(ts_col),
        F.when(take_new, F.col("fp_new")).otherwise(F.col("fp_old"))
         .alias("fp"),
    )
    if not keep_gone:
        merged = merged.filter(F.col("origin") != "gone")
    return merged


def domain_rollup(
    pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    exact_urls: bool = False,
) -> DataFrame:
    """docs / bytes / distinct-canonical-urls per domain.

    Default ``exact_urls=False`` uses an HLL++ sketch for n_urls — the whole
    rollup is then ONE exchange with map-side partial aggregation (the
    fixed-size sketch merges per-partition, which is what shields the Zipf
    domain skew). ``exact_urls=True`` switches to an exact count_distinct —
    correct-by-construction for oracle checks, but it costs a second
    exchange on (domain, url-hash); don't use it at 10^12 rows."""
    # exact mode counts the canonical STRING (collision-proof, matches the
    # oracle); the sketch keeps the 8-byte hash — HLL re-hashes its input,
    # so feeding it the 64-bit key costs no accuracy and less shuffle
    agg_urls = (
        F.count_distinct("_canon") if exact_urls
        else F.approx_count_distinct("_ck", rsd=0.01)
    )
    canon = canonical_url_col(F.col(url_col))
    return (
        pages.select(
            domain_col(F.col(url_col)).alias("domain"),
            F.octet_length(F.col(text_col)).alias("bytes"),
            *( [canon.alias("_canon")] if exact_urls
               else [F.xxhash64(canon).alias("_ck")] ),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("bytes").alias("total_bytes"),
            agg_urls.alias("n_urls"),
        )
    )


def domain_quality_profile(pages: DataFrame) -> DataFrame:
    """Per-domain Gopher keep profile of (url, text) pages, unsorted:
    domain, n_docs, n_keep (docs with no Gopher drop reason), keep_bytes
    (their UTF-8 bytes) and keep_bp (INTEGER floor basis points, so every
    engine agrees without float-tie hazards). One map-side-combined
    groupBy on domain, the domain_rollup skew shield; text never
    shuffles. Callers that read no keep_bytes get it pruned."""
    from .gopher import gopher_quality_drop_reason_col

    keep = gopher_quality_drop_reason_col(F.col("text")).isNull()
    return (
        pages.select(
            domain_col(F.col("url")).alias("domain"),
            keep.alias("keep"),
            F.coalesce(F.octet_length("text").cast("long"), F.lit(0)).alias("b"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_keep"),
            F.sum(F.when(F.col("keep"), F.col("b")).otherwise(F.lit(0)))
            .cast("long").alias("keep_bytes"),
        )
        .withColumn(
            "keep_bp", F.expr("(10000 * n_keep) div n_docs").cast("long"))
    )


def domain_suffixes_col(url: Column) -> Column:
    """All registrable suffixes of a URL's host, most-specific first:
    'a.b.example.com' -> ['a.b.example.com', 'b.example.com',
    'example.com', 'com']. Native array algebra, bounded by label count."""
    host = domain_col(url)
    labels = F.split(host, r"\.")

    def build(ls: Column) -> Column:
        n = F.size(ls)
        return F.transform(
            F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
            lambda i: F.array_join(F.slice(ls, i, n), "."),
        )

    from .dedup import _let

    return F.when(host != "", _let(labels, build)) \
        .otherwise(F.array().cast("array<string>"))


def filter_blocked_domains(
    pages: DataFrame, blocklist: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Drop pages whose host is a blocked domain OR any subdomain of one
    (the UT1-style adult/spam blocklist filter of Common-Crawl pipelines:
    blocking 'bad.example' also blocks 'cdn.bad.example').

    ``blocklist`` is one column ``domain`` (lowercased, no port). Scale
    shape (same stance as operators/decontam.py): the blocklist is
    ~10^5-10^6 rows — broadcast against the exploded suffix array (bounded
    fan-out, one row per host label, broadcast semi-join = no corpus
    shuffle); the resulting blocked-url set joins back for the left_anti
    flagging UNHINTED — AQE broadcasts it when small and degrades to
    sort-merge at percent-level block rates (an explicit hint would abort
    the job instead, since user hints are never demoted)."""
    keyed = pages.withColumn("_sfx", domain_suffixes_col(F.col(url_col)))
    hits = (
        keyed.select(F.col(url_col), F.explode("_sfx").alias("domain"))
        .join(F.broadcast(blocklist.select("domain")), "domain", "left_semi")
        .select(url_col)
        .distinct()
    )
    # no broadcast hint on `hits` (a hint is never demoted by AQE; real
    # crawls can have percent-level block rates) — AQE broadcasts small
    # hit sets itself and degrades to sort-merge when they are not
    return keyed.join(hits, url_col, "left_anti").drop("_sfx")


def politeness_schedule(
    frontier: DataFrame,
    per_host_per_batch: int = 10,
    url_col: str = "url",
    priority_col: str | None = None,
) -> DataFrame:
    """Crawl-frontier politeness scheduling: assign every URL a fetch
    ``batch`` and within-batch ``slot`` so that no batch fetches more than
    ``per_host_per_batch`` URLs from one host (per-host rate limiting —
    the frontier-shaping step between robots gating and the fetch tier).

    Semantics: URLs are ranked PER HOST (by ``priority_col`` descending
    when given, ties and default by URL ascending — fully deterministic),
    then dealt into consecutive batches of ``per_host_per_batch``. Output
    adds ``host``, ``batch`` (0-based) and ``slot`` (0-based position
    within the host's allocation for that batch).

    Scale shape: ONE window shuffle partitioned by host. Per-host
    ordering is inherent to the semantics (priority crawling), so a
    Zipf-hot host sorts its URLs inside one task; two mitigations for the
    10^12-row frontier: (a) rank only the horizon you will actually fetch
    (pre-filter by priority floor — predicate pushes below the window),
    and (b) when priority order is NOT required, a shuffle-free
    hash-deal (``pmod(xxhash64(url), n_batches)``) spreads any host
    evenly without sorting; this operator implements the ordered
    contract."""
    host = domain_col(F.col(url_col))
    order = (
        [F.col(priority_col).desc()] if priority_col else []
    ) + [F.col(url_col).asc()]
    from pyspark.sql.window import Window

    w = Window.partitionBy(host).orderBy(*order)
    rn = F.row_number().over(w) - 1
    return frontier.select(
        "*",
        host.alias("host"),
        (rn / per_host_per_batch).cast("long").alias("batch"),
        (rn % per_host_per_batch).cast("long").alias("slot"),
    )


def domain_frequency_cap(
    pages: DataFrame,
    max_per_domain: int,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    salt_buckets: int = 64,
) -> DataFrame:
    """Per-domain frequency capping (the anti-spam stage of C4/Gopher-era
    pipelines: no single host may contribute more than N documents): keep
    the top ``max_per_domain`` rows per domain by (latest ``ts_col``,
    then lexicographically smallest url) and drop the rest. Adds the
    ``domain`` column to the survivors.

    Exact top-N per domain computed in TWO window stages because domains
    are Zipf-skewed: a single row_number window over ``domain`` would sort
    the hottest domain's ~10^9 rows in ONE task at the 10^12-doc target.
    Stage 1 ranks within (domain, salt) — ``salt_buckets`` deterministic
    url-hash shards — and keeps each shard's top N, bounding every
    stage-2 partition at salt_buckets * N rows regardless of skew. Any
    row in the TRUE domain top-N is also in its own shard's top-N (the
    priority order is identical), so the composition is exact, and the
    final output is independent of the salting — which is why the oracle
    can restate it as one plain ROW_NUMBER."""
    from pyspark.sql.window import Window

    df = pages.withColumn("domain", domain_col(F.col(url_col)))
    order = [F.col(ts_col).desc(), F.col(url_col).asc()]
    salt = F.pmod(F.xxhash64(F.col(url_col)), F.lit(salt_buckets))
    w1 = Window.partitionBy(F.col("domain"), salt).orderBy(*order)
    pruned = (
        df.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= max_per_domain)
        .drop("_rn1")
    )
    w2 = Window.partitionBy("domain").orderBy(*order)
    return (
        pruned.withColumn("_rn2", F.row_number().over(w2))
        .filter(F.col("_rn2") <= max_per_domain)
        .drop("_rn2")
    )


def politeness_schedule_with_delays(
    frontier: DataFrame,
    delays: DataFrame,
    window_sec: float = 60.0,
    default_per_batch: int = 10,
    url_col: str = "url",
    priority_col: str | None = None,
) -> DataFrame:
    """``politeness_schedule`` with per-host capacities derived from
    robots.txt ``Crawl-delay`` (robots.robots_crawl_delay_col): a host
    with delay d <= window_sec seconds may be fetched floor(window_sec / d)
    times per batch window; a host with d > window_sec is fetched once
    every ceil(d / window_sec) batches (cap 1, the batches between are
    skipped); hosts without a valid delay use ``default_per_batch``.
    ``delays`` is a (host, crawl_delay) table — at crawl scale it is the
    per-domain robots table (~10^8 rows against a 10^12-row frontier), so
    the join stays a keyed equi-join the planner can broadcast when the
    domain count allows.

    Same single window shuffle as politeness_schedule; the per-host cap
    arrives BEFORE the window via the join, so batch assignment is one
    arithmetic projection on the rank. Output adds host, cap, batch,
    slot."""
    from pyspark.sql.window import Window

    with_host = frontier.withColumn("host", domain_col(F.col(url_col)))
    d = delays.select(
        F.col("host"),
        F.when(
            F.col("crawl_delay") > 0,
            F.greatest(
                F.floor(F.lit(float(window_sec)) / F.col("crawl_delay"))
                .cast("long"),
                F.lit(1).cast("long"),
            ),
        ).alias("cap"),
        F.when(
            F.col("crawl_delay") > window_sec,
            F.ceil(F.col("crawl_delay") / F.lit(float(window_sec))).cast("long"),
        ).alias("_every"),
    )
    joined = with_host.join(d, "host", "left").withColumns({
        "cap": F.coalesce(F.col("cap"), F.lit(default_per_batch).cast("long")),
        "_every": F.coalesce(F.col("_every"), F.lit(1).cast("long")),
    })
    order = (
        [F.col(priority_col).desc()] if priority_col else []
    ) + [F.col(url_col).asc()]
    w = Window.partitionBy("host").orderBy(*order)
    rn = F.row_number().over(w) - 1
    return joined.select(
        "*",
        ((rn / F.col("cap")).cast("long") * F.col("_every")).alias("batch"),
        (rn % F.col("cap")).cast("long").alias("slot"),
    ).drop("_every")


# Tracking/click-id query parameters every large crawl dedup strips: the
# same page reached from a newsletter, an ad click, and a social share
# carries distinct utm_*/click-id params but identical content, so
# canonical-URL dedup under-merges without this. Conservative enumerated
# list (never strip unknown params — they may select content).
TRACKING_PARAM_PAT = (
    r"utm_[A-Za-z0-9_]*|fbclid|gclid|dclid|msclkid|twclid|"
    r"mc_cid|mc_eid|igshid|_ga|_gl|ref_src|spm"
)


def strip_tracking_params_col(url: Column) -> Column:
    """Remove enumerated tracking params from the query string, native
    regexp chain (restated verbatim in the DuckDB oracle):

      1. the FIRST ``?`` -> ``?&`` (anchored pattern, so a literal ``?``
         later in the query is untouched) — now every param, including
         the first, is &-prefixed and one pattern removes any of them;
      2. drop ``&(tracking)=value`` (value = ``[^&#]*`` — fragments are
         already gone after canonicalization, but stay safe without it);
      3. the first ``?&`` -> ``?`` (anchored like step 1) undoes it; a
         literal ``?&`` later in the query (``/p?q=a?&b=c``) is untouched;
      4. a now-empty query (trailing ``?``) is dropped entirely.

    Heuristic by design: a URL whose raw query legitimately starts with
    ``?&`` loses that quirk — acceptable for dedup keys, documented."""
    t = F.regexp_replace(url, r"^([^?]*)\?", "$1?&")
    t = F.regexp_replace(t, r"&(" + TRACKING_PARAM_PAT + r")=[^&#]*", "")
    t = F.regexp_replace(t, r"^([^?]*)\?&", "$1?")
    return F.regexp_replace(t, r"\?$", "")
