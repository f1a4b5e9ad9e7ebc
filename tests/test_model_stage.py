"""Pipeline model-quality tier (config.model_quality_path): the vectorized
pandas margin kernel must be bit-equal to the operator's broadcast-join
path, the keep_reason chain must attribute drops to 'model-quality', and
the tier must be invisible when off (default)."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest

from linguistjs_spark.config import QualityFilterConfig
from linguistjs_spark.fasttext_bin import load_model
from linguistjs_spark.operators.model_filter import (
    build_demo_quality_model,
    logit_dim_df,
    logit_means_local,
    margin_batch,
    model_logit_means,
    word_logit_rows,
)
from linguistjs_spark.pipeline import run_pipeline
from linguistjs_spark.plans.explain_utils import formatted_plan, python_nodes

_TS = dt.datetime(2021, 6, 1)

_HQ = ("the research study and the analysis were published by the "
       "university")
_LQ = "click the free casino bonus prize and the jackpot offer deal"
_OOV = "zq vbnm mlkj qwert asdfg zxcvb"

PAGES = [
    ("https://a.example/hq.txt", _TS, None, _HQ, None),
    ("https://a.example/lq.txt", _TS, None, _LQ, None),
    ("https://a.example/oov.txt", _TS, None, _OOV, None),
    ("https://a.example/null.txt", _TS, None, None, None),
]


@pytest.fixture(scope="module")
def model_path(tmp_path_factory):
    p = str(tmp_path_factory.mktemp("mqs") / "demo.bin")
    build_demo_quality_model(p)
    return p


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(
        PAGES,
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )


def test_margin_batch_bit_equal_to_join_path(spark, model_path):
    model = load_model(model_path)
    rows = word_logit_rows(model)
    texts = [_HQ, _LQ, _OOV, None, "", "the the casino"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    join_side = {
        r["doc_id"]: r["m0"] - r["m1"] if r["m0"] is not None else None
        for r in model_logit_means(
            docs, logit_dim_df(spark, model), 2
        ).collect()
    }
    batch = margin_batch(rows, pd.Series(texts))
    for i, t in enumerate(texts):
        if join_side[i] is None:
            assert np.isnan(batch.iloc[i])
        else:
            assert batch.iloc[i] == join_side[i]  # bit-exact
        # and both agree with the row twin
        n, means = logit_means_local(rows, t, 2)
        if means is not None:
            # margin computed in the twin with the same operation order
            assert batch.iloc[i] == means[0] - means[1]


def test_pipeline_model_tier_labels(spark, pages, model_path):
    cfg = QualityFilterConfig(
        model_quality_path=model_path, model_quality_min_prob=0.6
    )
    out = {r["url"]: r for r in run_pipeline(spark, pages, cfg).collect()}
    assert out["https://a.example/hq.txt"]["keep"] is True
    lq = out["https://a.example/lq.txt"]
    assert lq["keep"] is False and lq["keep_reason"] == "model-quality"
    # OOV passes by default (a web-text classifier can't judge it)
    assert out["https://a.example/oov.txt"]["keep"] is True
    # NULL text stays 'unreadable', untouched by the tier
    assert out["https://a.example/null.txt"]["keep_reason"] == "unreadable"


def test_pipeline_model_tier_drop_oov(spark, pages, model_path):
    cfg = QualityFilterConfig(
        model_quality_path=model_path, model_quality_min_prob=0.6,
        model_quality_drop_oov=True,
    )
    out = {r["url"]: r for r in run_pipeline(spark, pages, cfg).collect()}
    oov = out["https://a.example/oov.txt"]
    assert oov["keep"] is False
    assert oov["keep_reason"] == "model-quality-oov"
    assert out["https://a.example/null.txt"]["keep_reason"] == "unreadable"
    assert out["https://a.example/hq.txt"]["keep"] is True


def test_tier_off_means_no_second_udf(spark, pages, model_path):
    """The tier's UDF joins classify's single Arrow node when on, and is
    absent from the plan when off."""
    def nodes(cfg):
        return python_nodes(formatted_plan(run_pipeline(spark, pages, cfg)))

    off = nodes(QualityFilterConfig())
    on = nodes(QualityFilterConfig(model_quality_path=model_path))
    assert len(off) == len(on) == 1, (off, on)
    assert "mq_udf(" in on[0] and "mq_udf(" not in off[0]


def test_quality_rules_take_precedence(spark, model_path):
    # a doc failing the word-count rule is attributed to the heuristic
    # tier even when it would also fail the model tier (chain order)
    pages = spark.createDataFrame(
        [("https://a.example/short.txt", _TS, None, "casino spam", None)],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string",
    )
    cfg = QualityFilterConfig(model_quality_path=model_path)
    r = run_pipeline(spark, pages, cfg).collect()[0]
    assert r["keep_reason"] == "quality-words"
