"""Physical-plan shape assertions: the scale story must be visible in
explain() output, not just asserted in prose (SURVEY.md §4)."""

import datetime as dt
import random
import re
from dataclasses import replace

import pandas as pd
import pytest
from pyspark.sql import functions as F

from linguistjs_spark.config import QualityFilterConfig
from linguistjs_spark.operators.extract import synth_html
from linguistjs_spark.operators.rollup import language_rollup
from linguistjs_spark.pipeline import LABEL_COLUMNS, run_pipeline
from linguistjs_spark.plans.explain_utils import (
    count_nodes,
    filter_conditions,
    formatted_plan,
    has_wholestage_codegen,
    pushed_filters,
    python_nodes,
    scan_read_schemas,
)
from linguistjs_spark.sources.pages import pages_df


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages") / "pages.parquet")
    pages_df(spark, n_bulk=50).write.mode("overwrite").parquet(path)
    return path


def test_pipeline_is_single_pass(spark, pages_parquet):
    """The single-pass rewrite (VERDICT r01 #1): one action over labels must
    plan exactly ONE scan of the pages source and ONE ArrowEvalPython stage —
    the filter+union formulation executed the classify UDF 3x and the scan
    4x because Spark does not CSE across union branches."""
    pages = spark.read.parquet(pages_parquet)
    labels = run_pipeline(spark, pages, QualityFilterConfig())
    plan = formatted_plan(labels)
    assert count_nodes(plan, "Scan parquet") == 1, plan
    assert count_nodes(plan, "ArrowEvalPython") == 1, plan


def test_entry_rollup_is_single_pass(spark):
    """entry()'s sorted per-language rollup (scan -> classify -> groupBy ->
    window pct) must also stay one scan / one python stage end-to-end: the
    old crossJoin(total) form doubled the whole upstream pipeline."""
    import __spark_entry__ as entry_mod

    plan = formatted_plan(entry_mod.entry(spark))
    assert count_nodes(plan, "Scan parquet") == 1, plan
    assert count_nodes(plan, "ArrowEvalPython") == 1, plan


def test_url_prefilter_pushdown(spark, pages_parquet):
    """A url predicate applied before the pipeline must reach the scan as a
    pushed filter (the partition-pruning analog of the reference's walk-time
    gitignore pruning, walk-tree.ts:82-83)."""
    pages = spark.read.parquet(pages_parquet).filter(
        F.col("url").startswith("https://crawl.example/")
    )
    labels = run_pipeline(spark, pages, QualityFilterConfig())
    plan = formatted_plan(labels)
    pf = pushed_filters(plan)
    assert any("StringStartsWith" in p or "startswith" in p.lower() for p in pf), pf


def test_quality_stage_is_codegen(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    labels = run_pipeline(spark, pages, QualityFilterConfig())
    assert has_wholestage_codegen(formatted_plan(labels))


def test_classify_udf_sees_only_path_and_text(spark, pages_parquet):
    """Arrow transfer discipline: the classify kernel's python stage must
    receive exactly (path, text) — never html bytes."""
    pages = spark.read.parquet(pages_parquet)
    labels = run_pipeline(spark, pages, QualityFilterConfig())
    plan = formatted_plan(labels)
    arrow_lines = [
        l for l in plan.splitlines() if "ArrowEvalPython" in l or "classify_udf" in l
    ]
    assert arrow_lines, "expected an ArrowEvalPython stage"
    assert not any("html" in l for l in arrow_lines), arrow_lines


def test_single_shuffle_for_rollup(spark, pages_parquet):
    """language_rollup over labels adds exactly one exchange beyond the
    pipeline itself (the groupBy) — partial aggregation handles the rest."""
    pages = spark.read.parquet(pages_parquet)
    labels = run_pipeline(spark, pages, QualityFilterConfig())
    base_plan = formatted_plan(labels)
    roll_plan = formatted_plan(language_rollup(labels))
    n_base = base_plan.count("Exchange")
    n_roll = roll_plan.count("Exchange")
    assert n_roll - n_base <= 2, (n_base, n_roll)


def test_revenue_join_broadcasts_dimension(spark):
    """The nation dimension side of the join chain must be a broadcast hash
    join — no shuffle of the fact side against a 25-row table."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["revenue_by_nation"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    # and the lineitem scan must be column-pruned to the join/agg columns
    schemas = scan_read_schemas(plan)
    li = [s for s in schemas if "l_orderkey" in s]
    assert li and all("l_shipdate" not in s and "l_tax" not in s for s in li), li


def test_anti_join_shape(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["orders_no_lineitem"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    assert "LeftAnti" in plan, plan
    # the lineitem side projects only the key
    schemas = scan_read_schemas(plan)
    assert any(s.strip().endswith("l_orderkey:bigint>") or "struct<l_orderkey" in s
               for s in schemas), schemas


def test_shipdate_predicate_pushdown(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["shipped_revenue_window"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    pf = pushed_filters(plan)
    assert any("l_shipdate" in p for p in pf), pf


def test_training_mix_plan_shape(spark):
    """The composed mix pipeline keeps its at-scale shapes in ONE plan:
    the benchmark-gram probe is a broadcast join (corpus never shuffles
    against it), exactly one Window handles exact-dedup winner selection,
    and nothing degenerates into a cartesian product."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["training_mix"](spark, "/root/testdata/sf0.001")
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan
    assert plan.count("Window") >= 1, plan


# The crawl-to-corpus label config: HTML extraction, the unicode/mojibake and
# compression gates, perplexity and the Gopher rules.
CORPUS_CFG = QualityFilterConfig(
    extract_html=True, normalize_unicode=True, drop_mojibake=True,
    compression_gate=True, compute_perplexity=True,
    max_top_bigram_ratio=0.18, min_stopword_hits=2)

_SENTENCES = [
    "the committee published its annual report on the regional water supply",
    "many of the older residents remember when the river was still clean",
    "she said that the new bridge would open to traffic in early spring",
    "engineers found that the northern tunnel needs more work than planned",
    "a small museum in the old town shows tools from the last century",
    "the library is open every day except for the national holidays",
    "local farmers have started to grow beans and barley on the hill",
    "the school board voted to extend the summer reading program again",
]


@pytest.fixture(scope="module")
def corpus_pages(spark, pages_parquet):
    """The fixture pages plus HTML-only prose pages (text NULL), so a
    corpus-style run both keeps and drops rows."""
    rng = random.Random(7)
    ts = dt.datetime(2026, 1, 1)
    prose = []
    for i in range(12):
        body = "\n".join(". ".join(rng.sample(_SENTENCES, 4)) + "."
                         for _ in range(3))
        prose.append((f"https://news.example/{i}/story.html", ts,
                      bytearray(synth_html(i, body).encode()), None, None))
    extra = spark.createDataFrame(
        prose, "url string, warc_ts timestamp, html binary, text string, "
        "lang string")
    return spark.read.parquet(pages_parquet).unionByName(extra)


def test_keep_filter_reads_computed_labels(spark, corpus_pages):
    """A `keep` filter on the pipeline output must not be pushed below it:
    pushdown would inline every label expression into the Filter and plan a
    second perplexity/zlib ArrowEvalPython stage above it."""
    labels = run_pipeline(spark, corpus_pages, CORPUS_CFG)
    n_udf = count_nodes(formatted_plan(labels), "ArrowEvalPython")
    assert n_udf == 1, formatted_plan(labels)

    kept = labels.filter("keep").select("url", "scrubbed_text")
    plan = formatted_plan(kept)
    assert count_nodes(plan, "ArrowEvalPython") == n_udf, plan
    conds = filter_conditions(plan)
    assert len(conds) == 1 and re.fullmatch(r"keep#\d+", conds[0]), conds

    roll_plan = formatted_plan(language_rollup(labels))
    assert count_nodes(roll_plan, "ArrowEvalPython") == n_udf, roll_plan
    conds = filter_conditions(roll_plan)
    assert len(conds) == 1, conds
    assert set(re.findall(r"(\w+)#\d+", conds[0])) == {"keep", "lang"}, conds


def test_keep_filter_matches_unfiltered_labels(spark, corpus_pages):
    labels = run_pipeline(spark, corpus_pages, CORPUS_CFG)
    all_rows = labels.select("url", "keep", "scrubbed_text").collect()
    want = sorted((r.url, r.scrubbed_text) for r in all_rows if r.keep)
    got = sorted(
        (r.url, r.scrubbed_text)
        for r in labels.filter("keep").select("url", "scrubbed_text").collect()
    )
    assert want and len(want) < len(all_rows)  # the fixture keeps and drops
    assert got == want


def test_pipeline_outputs_compose(spark, pages_parquet):
    """Self-joins, self-unions and joins of two separate pipeline outputs
    analyse and run: each run_pipeline call names its observed metrics
    uniquely, and a repeated reference to one output is the same node."""
    pages = spark.read.parquet(pages_parquet)
    labels = run_pipeline(spark, pages, QualityFilterConfig())
    n = pages.count()

    self_join = labels.alias("a").join(labels.alias("b"), "url")
    assert self_join.count() == n
    assert labels.union(labels).count() == 2 * n

    other = run_pipeline(
        spark, pages, QualityFilterConfig(quality_rules=False)
    ).select("url", F.col("keep").alias("keep_no_quality"))
    joined = labels.join(other, "url")
    assert joined.count() == n
    assert joined.filter(F.col("keep") & ~F.col("keep_no_quality")).count() == 0

    # a second output of the same cfg reuses its cached label steps, so the
    # two plans share UDF and alias expressions; both compose row for row
    again = run_pipeline(spark, pages, QualityFilterConfig())
    hashed = [df.select("url", F.xxhash64(*LABEL_COLUMNS).alias("h"))
              for df in (labels, again)]
    pair = hashed[0].alias("a").join(hashed[1].alias("b"), "url")
    assert pair.count() == n
    assert pair.filter(F.col("a.h") != F.col("b.h")).count() == 0
    both = hashed[0].union(hashed[1]).groupBy("url", "h").count()
    assert both.filter(F.col("count") != 2).count() == 0
    assert both.count() == n


PIPELINE_UDFS = ("classify_udf", "ppl_udf", "_zlen", "mq_udf")


def assert_one_python_node(labels, udfs):
    """labels, its `keep` filter and its language rollup each plan exactly
    one ArrowEvalPython node, evaluating exactly the pipeline UDFs `udfs`."""
    for df in (labels, labels.filter("keep"), language_rollup(labels)):
        nodes = python_nodes(formatted_plan(df))
        assert len(nodes) == 1, formatted_plan(df)
        assert {u for u in PIPELINE_UDFS if u + "(" in nodes[0]} == udfs, nodes


@pytest.mark.parametrize("cfg, udfs", [
    (QualityFilterConfig(), {"classify_udf"}),
    (CORPUS_CFG, {"classify_udf", "ppl_udf", "_zlen"}),
    (replace(CORPUS_CFG, categories=("prose",)),
     {"classify_udf", "ppl_udf", "_zlen"}),
], ids=["labels", "corpus", "corpus_prose"])
def test_one_python_node_per_pipeline(spark, corpus_pages, cfg, udfs):
    """Every scalar pandas UDF the pipeline runs evaluates in ONE Arrow
    node, so each task starts one Python worker: none of the text scorers
    may read a classify-dependent input (which would chain a second node
    above classify's)."""
    assert_one_python_node(run_pipeline(spark, corpus_pages, cfg), udfs)


def test_one_python_node_model_tier(spark, corpus_pages, tmp_path):
    from linguistjs_spark.operators.model_filter import build_demo_quality_model

    model = str(tmp_path / "demo.bin")
    build_demo_quality_model(model)
    cfg = replace(CORPUS_CFG, model_quality_path=model)
    assert_one_python_node(run_pipeline(spark, corpus_pages, cfg),
                           {"classify_udf", "ppl_udf", "_zlen", "mq_udf"})


def test_fused_scorers_mask_dead_rows(spark):
    """The text scorers run on every eligible row, before classify decides
    liveness; rows that die afterwards (binary sniff, category) and rows
    that never were eligible (path filters) read NULL ppl with the same
    keep_reason as without the scorers, and alive rows' ppl is the kernel's
    score of their NORMALIZED text."""
    from linguistjs_spark.operators.normalize import unicode_punct_norm_col
    from linguistjs_spark.perplexity import _logp, perplexity_batch_with_table

    ts = dt.datetime(2026, 1, 1)
    punct = [(f"https://code.example/p{i}.py", ts, None,
              f"# \u201cquoted\u201d note {i}\u2026\nprint('x')\n", None)
             for i in range(3)]
    pages = pages_df(spark, n_bulk=40).unionByName(spark.createDataFrame(
        punct, "url string, warc_ts timestamp, html binary, text string, "
        "lang string"))
    base = QualityFilterConfig(categories=("programming",),
                               normalize_unicode=True)
    cfg = replace(base, compute_perplexity=True, compression_gate=True)
    plain = {r.url: r.keep_reason
             for r in run_pipeline(spark, pages, base).collect()}
    out = run_pipeline(spark, pages, cfg).select(
        "url", "keep_reason", "lang", "ppl").collect()

    path_reasons = {"ignored", "vendored", "documentation", "generated",
                    "binary-ext"}
    dead_reasons = path_reasons | {"binary-content", "category"}
    dead = [r for r in out if r.keep_reason in dead_reasons]
    reasons = {r.keep_reason for r in dead}
    assert {"binary-content", "category"} <= reasons and reasons & path_reasons
    for r in dead:
        assert r.ppl is None, r
        assert r.keep_reason == plain[r.url], r

    alive = {r.url: r.ppl for r in out
             if r.keep_reason not in dead_reasons | {"unreadable"}}
    assert set(u for u, *_ in punct) <= set(alive)
    norm = {r.url: r.t for r in pages.select(
        "url", unicode_punct_norm_col(F.col("text")).alias("t")).collect()}
    assert norm[punct[0][0]] != punct[0][3]  # the fixture normalizes
    urls = sorted(alive)
    want = perplexity_batch_with_table(
        _logp(), pd.Series([norm[u] for u in urls]))
    assert [alive[u] for u in urls] == list(want)
