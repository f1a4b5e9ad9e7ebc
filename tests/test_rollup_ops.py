"""Rollup operators: salted two-phase equivalence, grouping sets, totals,
minSize/Other, and the explicit-repartition config path."""

from pyspark.sql import functions as F

from linguistjs_spark.config import QualityFilterConfig, REFERENCE_PARITY_CONFIG
from linguistjs_spark.operators import rollup as R
from linguistjs_spark.pipeline import run_pipeline
from linguistjs_spark.sources.pages import pages_df


def _labels(spark, cfg=None, n_bulk=120):
    return run_pipeline(spark, pages_df(spark, n_bulk=n_bulk),
                        cfg or REFERENCE_PARITY_CONFIG)


def test_salted_rollup_equivalent(spark):
    labels = _labels(spark).cache()
    plain = {r["lang"]: r.asDict() for r in R.language_rollup(labels).collect()}
    salted = {r["lang"]: r.asDict() for r in
              R.salted_language_rollup(labels, salt_buckets=7).collect()}
    assert plain == salted
    labels.unpersist()


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

def test_length_bucketed_repartition_parity(spark):
    """Length-range partitioning (straggler mitigation) must not change any
    label either."""
    base = {r["url"]: (r["keep"], r["keep_reason"], r["lang"])
            for r in _labels(spark, n_bulk=60).collect()}
    cfg = QualityFilterConfig(
        child_languages=True, quality_rules=False, langid_fallback=False,
        scrub_pii=False, toxicity_filter=False,
        repartition_buckets=8, repartition_by_length=True,
    )
    rep = {r["url"]: (r["keep"], r["keep_reason"], r["lang"])
           for r in _labels(spark, cfg=cfg, n_bulk=60).collect()}
    assert base == rep


def test_dedup_cardinality_approx_within_tolerance(spark):
    from linguistjs_spark.operators.dedup import dedup_cardinality

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    r = dedup_cardinality(docs, rsd=0.02).collect()[0]
    assert r["n_docs"] >= r["n_unique_exact"] > 0
    rel_err = abs(r["n_unique_approx"] - r["n_unique_exact"]) / r["n_unique_exact"]
    assert rel_err < 0.05, (r["n_unique_exact"], r["n_unique_approx"], rel_err)


def test_salted_rollup_spreads_head_language(spark):
    """Skew evidence: on a 95%-one-language corpus the salted partial stage
    must spread the head key across many (lang, salt) groups — the rows a
    single reducer would otherwise absorb — while the final rollup stays
    identical to the unsalted one."""
    from pyspark.sql import functions as F

    from linguistjs_spark.operators import rollup as R

    n = 2000
    labels = spark.range(n).select(
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
    salt_buckets = 16
    partial = (
        labels.filter(F.col("keep") & F.col("lang").isNotNull())
        .withColumn("_salt", F.pmod(F.xxhash64("url"), F.lit(salt_buckets)))
        .groupBy("lang", "_salt")
        .agg(F.count("*").alias("n"))
    )
    head = partial.filter(F.col("lang") == "Text").collect()
    assert len(head) == salt_buckets  # head key split across every bucket
    counts = sorted(r["n"] for r in head)
    assert counts[-1] < 0.95 * n * 0.25, counts  # no bucket re-concentrates

    plain = {r["lang"]: r.asDict() for r in R.language_rollup(labels).collect()}
    salted = {r["lang"]: r.asDict() for r in
              R.salted_language_rollup(labels, salt_buckets=salt_buckets).collect()}
    assert plain == salted


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
