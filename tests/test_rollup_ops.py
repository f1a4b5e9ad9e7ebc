"""Rollup operators: map-side combining of the head language, grouping
sets, totals, minSize/Other, and the explicit-repartition config path."""

from pyspark.sql import functions as F

from linguistjs_spark.config import QualityFilterConfig, REFERENCE_PARITY_CONFIG
from linguistjs_spark.operators import rollup as R
from linguistjs_spark.pipeline import run_pipeline
from linguistjs_spark.sources.pages import pages_df


def _labels(spark, cfg=None, n_bulk=120):
    return run_pipeline(spark, pages_df(spark, n_bulk=n_bulk),
                        cfg or REFERENCE_PARITY_CONFIG)


def test_grouping_sets_consistency(spark):
    labels = _labels(spark).cache()
    rows = R.keep_reason_rollup(labels).collect()
    total = [r for r in rows if r["grp"] == 3]
    assert len(total) == 1
    n_all = labels.count()
    assert total[0]["n_docs"] == n_all
    # per-lang rows sum to the grand total
    per_lang = [r for r in rows if r["grp"] == 1]
    assert sum(r["n_docs"] for r in per_lang) == n_all
    # per-(lang, reason) rows sum to their lang row
    fine = [r for r in rows if r["grp"] == 0]
    for lr in per_lang:
        subs = [r for r in fine if r["lang"] == lr["lang"]]
        assert sum(r["n_docs"] for r in subs) == lr["n_docs"]
    labels.unpersist()


def test_min_size_other_preserves_totals(spark):
    labels = _labels(spark)
    roll = R.language_rollup(labels).cache()
    merged = R.min_size_other(roll, min_bytes=500)
    a = roll.agg(F.sum("bytes"), F.sum("n_docs")).collect()[0]
    b = merged.agg(F.sum("bytes"), F.sum("n_docs")).collect()[0]
    assert tuple(a) == tuple(b)
    assert merged.filter("lang = 'Other'").count() <= 1
    roll.unpersist()


def test_repartition_buckets_config_parity(spark):
    """The north-rule explicit repartition must not change any label."""
    base = {r["url"]: (r["keep"], r["keep_reason"], r["lang"])
            for r in _labels(spark, n_bulk=60).collect()}
    cfg = QualityFilterConfig(
        child_languages=True, quality_rules=False, langid_fallback=False,
        scrub_pii=False, toxicity_filter=False, repartition_buckets=8,
    )
    rep = {r["url"]: (r["keep"], r["keep_reason"], r["lang"])
           for r in _labels(spark, cfg=cfg, n_bulk=60).collect()}
    assert base == rep


def test_totals_matches_rollup(spark):
    labels = _labels(spark).cache()
    t = R.totals(labels).collect()[0]
    roll = R.language_rollup(labels).agg(
        F.sum("bytes").alias("b"), F.sum("n_docs").alias("n")).collect()[0]
    unk = R.unknown_rollup(labels).agg(
        F.sum("bytes").alias("b"), F.sum("n_docs").alias("n")).collect()[0]
    assert t["bytes"] == (roll["b"] or 0) + (unk["b"] or 0)
    assert t["n_docs"] == (roll["n"] or 0) + (unk["n"] or 0)
    labels.unpersist()


def test_dedup_cardinality_approx_within_tolerance(spark):
    from linguistjs_spark.operators.dedup import dedup_cardinality

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    r = dedup_cardinality(docs, rsd=0.02).collect()[0]
    assert r["n_docs"] >= r["n_unique_exact"] > 0
    rel_err = abs(r["n_unique_approx"] - r["n_unique_exact"]) / r["n_unique_exact"]
    assert rel_err < 0.05, (r["n_unique_exact"], r["n_unique_approx"], rel_err)


def test_rollup_combines_head_language_map_side(spark):
    """On a 95%-one-language corpus the head key needs no salting: the
    rollup's sums and counts are combined by a partial HashAggregate below
    its one Exchange, so each map task ships at most one row per language,
    and the per-language totals are exact."""
    import re

    from linguistjs_spark.plans.explain_utils import count_nodes, formatted_plan

    n = 2000
    labels = spark.range(0, n, 1, 16).select(
        F.concat(F.lit("http://s/d"), F.col("id")).alias("url"),
        F.when(F.col("id") % 20 == 0, F.lit("Python"))
        .otherwise(F.lit("Text"))
        .alias("lang"),
        F.lit(True).alias("keep"),
        (F.col("id") % 100 + 1).cast("long").alias("bytes"),
        F.struct(
            F.lit(3).cast("long").alias("total"),
            F.lit(2).cast("long").alias("content"),
            F.lit(1).cast("long").alias("code"),
        ).alias("lines"),
    )
    roll = R.language_rollup(labels)

    plan = formatted_plan(roll)
    assert count_nodes(plan, "Exchange") == 1, plan
    child = re.search(r"\+- Exchange \(\d+\)\n\s*\+- HashAggregate \((\d+)\)", plan)
    assert child, plan
    partial = re.search(
        r"^\(%s\) HashAggregate\n.*?^Functions \[\d+\]: (.*?)$" % child[1],
        plan, re.M | re.S)
    assert "partial_sum(bytes" in partial[1], partial[1]
    assert "partial_count(" in partial[1], partial[1]

    want: dict[str, list[int]] = {}
    for i in range(n):
        acc = want.setdefault("Python" if i % 20 == 0 else "Text", [0, 0])
        acc[0] += i % 100 + 1
        acc[1] += 1
    got = {r["lang"]: [r["bytes"], r["n_docs"]] for r in roll.collect()}
    assert got == want


def test_approx_percentile_tracks_exact(spark):
    """approx_percentile (the 100 TB sketch path) must track the exact
    interpolated percentile within a few percent on the docs table."""
    from pyspark.sql import functions as F

    d = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .withColumn("len", F.octet_length("text"))
    )
    r = d.agg(
        F.expr("percentile(len, 0.9)").alias("exact"),
        F.expr("approx_percentile(len, 0.9, 10000)").alias("approx"),
    ).collect()[0]
    assert abs(r["approx"] - r["exact"]) / r["exact"] < 0.05, r


def test_language_maps_match_metadata(spark):
    """The type and color literal maps hold every language's metadata,
    quote-bearing names included."""
    from linguistjs_spark.metadata import load_metadata
    from linguistjs_spark.operators.rollup import language_attr_map

    langs = load_metadata().languages
    assert len(langs) == 711
    assert {"Cap'n Proto", "Ren'Py"} <= set(langs)
    row = spark.range(1).select(
        language_attr_map("type").alias("t"),
        language_attr_map("color").alias("c")).first()
    assert row.t == {l: m["type"] for l, m in langs.items()}
    assert row.c == {l: m["color"] for l, m in langs.items() if m.get("color")}
