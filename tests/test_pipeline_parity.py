"""Distributed-pipeline vs pure-Python-oracle parity on the fixture table.

This is the BASELINE.json correctness gate: keep/drop F1 >= 0.99 vs the
reference semantics (we assert exact agreement, which is stronger) and
byte-identical scrubbed text per url."""

import pytest

from linguistjs_spark.config import (
    DEFAULT_CONFIG,
    REFERENCE_PARITY_CONFIG,
    QualityFilterConfig,
)
from linguistjs_spark.oracle import analyse_document
from linguistjs_spark.pipeline import run_pipeline
from linguistjs_spark.sources.pages import SEED_OVERRIDES, generate_pages, pages_df


def _oracle_results(rows, cfg, overrides):
    out = {}
    for url, _ts, html, text, _lang in rows:
        out[url] = analyse_document(url, text, html=html, cfg=cfg, overrides=overrides)
    return out


def _compare(spark, cfg, overrides, n_bulk=200):
    rows = generate_pages(n_bulk=n_bulk)
    expected = _oracle_results(rows, cfg, overrides)
    df = pages_df(spark, n_bulk=n_bulk)
    got = {
        r["url"]: r
        for r in run_pipeline(spark, df, cfg, overrides=overrides).collect()
    }
    assert set(got) == set(expected)

    mismatches = []
    for url, exp in expected.items():
        g = got[url]
        if (g["keep"], g["keep_reason"]) != (exp.keep, exp.keep_reason):
            mismatches.append(
                (url, "keep", (g["keep"], g["keep_reason"]), (exp.keep, exp.keep_reason))
            )
            continue
        if exp.keep:
            if g["lang"] != exp.lang:
                mismatches.append((url, "lang", g["lang"], exp.lang))
            if list(g["alternatives"] or []) != exp.alternatives:
                mismatches.append((url, "alts", g["alternatives"], exp.alternatives))
            if g["scrubbed_text"] != exp.scrubbed_text:
                mismatches.append(
                    (url, "scrub", g["scrubbed_text"], exp.scrubbed_text)
                )
            if (g["bytes"], g["lines"]["total"], g["lines"]["content"], g["lines"]["code"]) != (
                exp.bytes, exp.lines_total, exp.lines_content, exp.lines_code
            ):
                mismatches.append((url, "metrics",
                                   (g["bytes"], tuple(g["lines"])),
                                   (exp.bytes, exp.lines_total, exp.lines_content, exp.lines_code)))
            if g["nl_lang"] != exp.nl_lang:
                mismatches.append((url, "nl_lang", g["nl_lang"], exp.nl_lang))
    assert not mismatches, f"{len(mismatches)} mismatches, first 10: {mismatches[:10]}"


def test_parity_reference_config(spark):
    _compare(spark, REFERENCE_PARITY_CONFIG, SEED_OVERRIDES)


def test_parity_default_config(spark):
    _compare(spark, DEFAULT_CONFIG, SEED_OVERRIDES)


def test_parity_category_filter(spark):
    cfg = QualityFilterConfig(
        child_languages=True,
        categories=("programming", "markup"),
        quality_rules=False,
        langid_fallback=False,
        scrub_pii=False,
        toxicity_filter=False,
    )
    _compare(spark, cfg, SEED_OVERRIDES, n_bulk=60)


def test_parity_quick_mode(spark):
    cfg = QualityFilterConfig(
        quick=True, quality_rules=False, langid_fallback=False,
        scrub_pii=False, toxicity_filter=False,
    )
    _compare(spark, cfg, SEED_OVERRIDES, n_bulk=60)


def test_scrub_byte_identity(spark):
    """The north-star contract in isolation: golden byte comparison."""
    from linguistjs_spark.oracle import scrub_text

    text = (
        "contact me: a.b@example.com +1 (555) 013-7777 or at 10.0.0.1 "
        "ssn 123-45-6789 card 4111 1111 1111 1111 done"
    )
    golden = scrub_text(text)
    assert "<EMAIL>" in golden and "<IP>" in golden and "<SSN>" in golden
    assert "<CC>" in golden and "<PHONE>" in golden

    rows = generate_pages(n_bulk=300)
    df = pages_df(spark, n_bulk=300)
    out = run_pipeline(spark, df, DEFAULT_CONFIG, overrides=SEED_OVERRIDES)
    got = {r["url"]: r["scrubbed_text"] for r in out.filter("keep").collect()}
    checked = 0
    for url, _ts, html, text, _l in rows:
        if url in got:
            exp = analyse_document(url, text, html=html, cfg=DEFAULT_CONFIG,
                                   overrides=SEED_OVERRIDES)
            assert got[url].encode("utf-8") == exp.scrubbed_text.encode("utf-8"), url
            checked += 1
    assert checked > 50


def test_scrub_gate_is_exact(spark):
    """The [0-9@] presence gate must be a true superset test: for any text
    without digits or '@' the PII chain is the identity, and for texts WITH
    them the gated column still equals the Python oracle byte-for-byte."""
    import string

    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from linguistjs_spark.operators.scrub import scrubbed_col
    from linguistjs_spark.oracle import scrub_text

    # deterministic corpus: letters/punct-only rows (gate=False path) and
    # PII-bearing rows (gate=True path), plus unicode edge rows
    letters = string.ascii_letters + " .,!?-\n\t'\"()"
    rng_rows = [
        "".join(letters[(i * 7 + j) % len(letters)] for j in range(80))
        for i in range(50)
    ]
    pii_rows = [
        "mail a@b.co now", "ip 10.0.0.1", "ssn 123-45-6789",
        "cc 4111 1111 1111 1111", "call +1 555 013 7777", "year 2024 only",
        "v1.2.3 release", "café ☕ address 127.0.0.1", "@handle no digits",
    ]
    rows = [(i, t) for i, t in enumerate(rng_rows + pii_rows)]
    df = spark.createDataFrame(rows, "i long, text string")
    got = {
        r["i"]: r["s"]
        for r in df.select("i", scrubbed_col(F.col("text")).alias("s")).collect()
    }
    for i, t in rows:
        assert got[i].encode() == scrub_text(t).encode(), (i, t, got[i])


def test_scrub_long_local_part_fully_redacted(spark):
    """ADVICE r01: the RFC-bounded email rule alone leaves the prefix of a
    >64-char local part in cleartext; the bounded residue sweep removes it.
    Byte-identical across Spark / python oracle by the shared config."""
    from pyspark.sql import functions as F

    from linguistjs_spark.operators.scrub import scrubbed_col
    from linguistjs_spark.oracle import scrub_text

    long_local = "a" * 300 + "@mail.example"
    cases = [
        f"contact {long_local} now",
        "plain text with no pii at all",
        "pre-existing literal junk<EMAIL> stays scrubbed",
    ]
    df = spark.createDataFrame([(t,) for t in cases], "text string")
    got = [r["s"] for r in df.select(scrubbed_col(F.col("text")).alias("s")).collect()]
    for t, g in zip(cases, got):
        assert g == scrub_text(t), t
    assert got[0] == "contact <EMAIL> now"
    assert "junk" not in got[2]


def test_parity_extract_html_config(spark):
    """run_pipeline(extract_html=True) agrees row-for-row with the python
    oracle (which mirrors the extraction stage) on mixed html/text pages."""
    import datetime

    from linguistjs_spark import oracle as O
    from linguistjs_spark.config import QualityFilterConfig
    from linguistjs_spark.operators.extract import synth_html
    from linguistjs_spark.pipeline import run_pipeline

    t = datetime.datetime(2026, 1, 1)
    body = ("the quick brown fox jumps over the lazy dog tonight.\n"
            "it runs across the quiet field until the sun comes up.")
    rows = [
        ("https://p.example/a.html", None, synth_html(1, body).encode()),
        ("https://p.example/b.html", "plain provided text wins here always.",
         b"<p>ignored</p>"),
        ("https://p.example/c", None, b"PK\x00\x01binary"),
        ("https://p.example/d.html", None, None),
        # HTML-only page on a vendored path
        ("https://p.example/dist/e.html", None, synth_html(2, body).encode()),
    ]
    cfg = QualityFilterConfig(extract_html=True)
    pages = spark.createDataFrame(
        [(u, t, bytearray(h) if h else None, x) for u, x, h in rows],
        "url string, warc_ts timestamp, html binary, text string",
    )
    got = {r.url: r for r in run_pipeline(spark, pages, cfg).collect()}
    for url, text, html in rows:
        want = O.analyse_document(url, text, html=html, cfg=cfg)
        g = got[url]
        assert (g.keep, g.keep_reason, g.lang, g.scrubbed_text) == \
               (want.keep, want.keep_reason, want.lang, want.scrubbed_text), url
    assert got["https://p.example/dist/e.html"].keep_reason == "vendored"
