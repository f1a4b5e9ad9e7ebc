"""run_pipeline builds each config's label steps once per SparkContext: a
repeat call with the same key reuses them, any change to the key rebuilds,
and a cache hit labels every row exactly as a cold build does."""

import datetime as dt
import os
from dataclasses import replace

import pytest
from pyspark import SparkContext
from pyspark.sql import functions as F

import linguistjs_spark.pipeline as pipeline
from linguistjs_spark.config import QualityFilterConfig
from linguistjs_spark.operators.extract import synth_html
from linguistjs_spark.operators.model_filter import build_demo_quality_model
from linguistjs_spark.oracle import OverrideRule
from linguistjs_spark.pipeline import LABEL_COLUMNS, run_pipeline
from linguistjs_spark.sources.pages import pages_df

CORPUS_CFG = QualityFilterConfig(
    extract_html=True, normalize_unicode=True, drop_mojibake=True,
    compression_gate=True, compute_perplexity=True,
    max_top_bigram_ratio=0.18, min_stopword_hits=2)

_PROSE = ("the committee published its annual report on the regional water "
          "supply. many of the older residents remember when the river was "
          "still clean. she said that the new bridge would open in spring.")


@pytest.fixture(scope="module")
def pages(spark):
    """The fixture pages plus HTML-only prose pages, so corpus configs
    both keep and drop rows."""
    ts = dt.datetime(2026, 1, 1)
    extra = spark.createDataFrame(
        [(f"https://news.example/{i}/story.html", ts,
          bytearray(synth_html(i, _PROSE).encode()), None, None)
         for i in range(6)],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    return pages_df(spark, n_bulk=20).unionByName(extra)


@pytest.fixture(scope="module")
def model_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("mq") / "demo.bin")
    build_demo_quality_model(p)
    return p


@pytest.fixture
def builds(monkeypatch):
    """Empties the step cache and counts label-step builds (one
    quality_struct call per build)."""
    pipeline._label_steps.cache_clear()
    n = [0]
    real = pipeline.quality_struct

    def spy(text):
        n[0] += 1
        return real(text)

    monkeypatch.setattr(pipeline, "quality_struct", spy)
    yield n
    pipeline._label_steps.cache_clear()


def _hashes(labels):
    return dict(labels.select("url", F.xxhash64(*LABEL_COLUMNS)).collect())


def test_repeat_call_builds_once(spark, pages, builds):
    cfg = QualityFilterConfig()
    run_pipeline(spark, pages, cfg)
    run_pipeline(spark, pages, cfg)
    run_pipeline(spark, pages, replace(cfg))  # equal cfg, new object
    assert builds[0] == 1


def _rewrite(path):
    build_demo_quality_model(path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))


@pytest.mark.parametrize("change", [
    "cfg", "overrides", "globs", "restart", "model_file"])
def test_key_change_rebuilds(spark, pages, builds, monkeypatch, tmp_path,
                             change):
    model = str(tmp_path / "model.bin")
    build_demo_quality_model(model)
    cfg = QualityFilterConfig(model_quality_path=model)
    run_pipeline(spark, pages, cfg)
    assert builds[0] == 1
    args = (cfg, None, None)
    if change == "cfg":
        args = (replace(cfg, toxicity_max_ratio=0.2), None, None)
    elif change == "overrides":
        args = (cfg, [OverrideRule("*.txt", vendored=True)], None)
    elif change == "globs":
        args = (cfg, None, ["*.md"])
    elif change == "restart":
        # a restarted SparkContext gets a new application id
        monkeypatch.setattr(SparkContext, "applicationId",
                            property(lambda self: "local-restarted"))
    else:
        _rewrite(model)
    run_pipeline(spark, pages, *args)
    run_pipeline(spark, pages, *args)
    assert builds[0] == 2


@pytest.mark.parametrize("cfg", [
    QualityFilterConfig(), CORPUS_CFG,
    replace(CORPUS_CFG, categories=("prose",)), "model"],
    ids=["labels", "corpus", "corpus_prose", "model_tier"])
def test_cache_hit_labels_equal_cold_build(spark, pages, builds, model_path,
                                           cfg):
    if cfg == "model":
        cfg = replace(CORPUS_CFG, model_quality_path=model_path)
    cold = _hashes(run_pipeline(spark, pages, cfg))
    hit = _hashes(run_pipeline(spark, pages, cfg))
    assert builds[0] == 1
    assert hit == cold and len(cold) == pages.count()
