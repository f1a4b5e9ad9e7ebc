"""Pipeline integration of the normalize/mojibake/compression gates
(config.normalize_unicode / drop_mojibake / compression_gate): keep_reason
attribution, scrubbed-text canonicalization, and default invisibility."""

import datetime as dt
from dataclasses import replace

from pyspark.sql import functions as F

from linguistjs_spark.config import QualityFilterConfig
from linguistjs_spark.pipeline import run_pipeline

_TS = dt.datetime(2021, 6, 1)

_CLEAN = ("the research study and the analysis were published by the "
          "university press this year in full")
_CURLY = ("the “research” study – and it’s analysis … were published by "
          "the university press this year")
_MOJI = ("the research study " + "�" * 40 +
         " and the analysis were published by the university")
_REPET = "spam " * 400
# UTF-8 "’" read as latin1: every apostrophe leaves two C1 controls
_C1 = "the research study" + " it\u00e2\x80\x99s analysis" * 10


def _pages(spark, texts):
    rows = [
        (f"https://a.example/d{i}.txt", _TS, None, t, None)
        for i, t in enumerate(texts)
    ]
    return spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )


def test_gates_off_by_default(spark):
    pages = _pages(spark, [_CLEAN, _CURLY, _MOJI])
    out = {r.url: r for r in run_pipeline(
        spark, pages, QualityFilterConfig()).collect()}
    for r in out.values():
        assert r.keep is True
    # raw curly punctuation survives untouched when normalization is off
    assert "“research”" in out["https://a.example/d1.txt"].scrubbed_text


def test_normalize_unicode_canonicalizes_scrubbed_text(spark):
    pages = _pages(spark, [_CURLY])
    cfg = QualityFilterConfig(normalize_unicode=True)
    r = run_pipeline(spark, pages, cfg).collect()[0]
    assert r.keep is True
    assert '"research"' in r.scrubbed_text
    assert "it's analysis ..." in r.scrubbed_text
    assert "“" not in r.scrubbed_text and "…" not in r.scrubbed_text


def test_mojibake_gate_drops_decode_casualties(spark):
    pages = _pages(spark, [_CLEAN, _MOJI, None, _C1])
    cfg = QualityFilterConfig(drop_mojibake=True)
    out = {r.url: r for r in run_pipeline(spark, pages, cfg).collect()}
    assert out["https://a.example/d0.txt"].keep is True
    for url in ("https://a.example/d1.txt", "https://a.example/d3.txt"):
        bad = out[url]
        assert bad.keep is False and bad.keep_reason == "bad-unicode", url
    # NULL text keeps its existing attribution, never 'bad-unicode'
    assert out["https://a.example/d2.txt"].keep_reason == "unreadable"


def test_compression_gate_drops_repetitive(spark):
    pages = _pages(spark, [_CLEAN, _REPET])
    cfg = QualityFilterConfig(
        compression_gate=True,
        # neutralize the word-level quality rules so the compression gate
        # is what attributes the drop
        max_dup_line_ratio=1.1, max_words=10_000,
    )
    out = {r.url: r for r in run_pipeline(spark, pages, cfg).collect()}
    assert out["https://a.example/d0.txt"].keep is True
    rep = out["https://a.example/d1.txt"]
    assert rep.keep is False
    assert rep.keep_reason == "compression-repetitive"


def test_normalize_unicode_leaves_dead_row_labels_alone(spark):
    """Rows dropped before the quality stages (path filters, binary sniff,
    category) get the same labels with normalization on and off."""
    from linguistjs_spark.sources.pages import pages_df

    pages = pages_df(spark, n_bulk=40)
    base = QualityFilterConfig(categories=("programming",), drop_mojibake=True)
    path_reasons = {"ignored", "vendored", "documentation", "generated",
                    "binary-ext"}
    dead = path_reasons | {"binary-content", "category"}

    def dead_rows(cfg):
        return sorted(tuple(r) for r in run_pipeline(spark, pages, cfg)
                      .filter(F.col("keep_reason").isin(*dead)).collect())

    off = dead_rows(base)
    on = dead_rows(replace(base, normalize_unicode=True))
    reasons = {r[4] for r in off}
    assert {"binary-content", "category"} <= reasons, reasons
    assert reasons & path_reasons, reasons
    assert on == off
