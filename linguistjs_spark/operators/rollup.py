"""Aggregations A3-A6 + F6/O1: per-language rollup, unknown rollup, totals,
minSize/"Other" bucketing, sort.

Reference analog: the aggregation loop at /root/reference/src/index.ts:417-479
and the CLI's minSize/Other + sort presentation (src/cli.ts:72-105).

Scale notes: a groupBy on `lang` is the pipeline's only shuffle. Its
aggregates are sums and counts, so Spark plans a partial HashAggregate
below the one Exchange: even a head language holding most documents
crosses the shuffle as at most one row per map task, which is what
two-phase salting would buy at the price of a second shuffle
(tests/test_rollup_ops.py::test_rollup_combines_head_language_map_side)."""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..metadata import load_metadata


@lru_cache(maxsize=None)
def _lang_map_sql(attr: str) -> str:
    md = load_metadata()

    def q(v: str) -> str:
        return "'" + v.replace("'", "''") + "'"

    return "map(" + ",".join(
        f"{q(lang)},{q(meta[attr])}"
        for lang, meta in md.languages.items() if meta.get(attr)
    ) + ")"


def language_attr_map(attr: str) -> Column:
    """Literal lang -> metadata ``attr`` map (languages without the
    attribute are left out), built once as a ``map('k','v',...)`` SQL string
    and parsed with ONE F.expr: the F.create_map/F.lit form costs two py4j
    round trips per language (~10k per rollup for type + color)."""
    return F.expr(_lang_map_sql(attr))


def _with_type_color(rollup: DataFrame) -> DataFrame:
    lang = F.col("lang")
    return rollup.withColumns({
        "type": language_attr_map("type")[lang],
        "color": language_attr_map("color")[lang],
    })


def _aggs():
    return [
        F.sum("bytes").alias("bytes"),
        F.sum("lines.total").alias("lines_total"),
        F.sum("lines.content").alias("lines_content"),
        F.sum("lines.code").alias("lines_code"),
        F.count("*").alias("n_docs"),
    ]


def language_rollup(labels: DataFrame) -> DataFrame:
    """A3: per-language byte/line rollup over kept documents
    (src/index.ts:440-456), decorated with type/color from the broadcast
    language dimension."""
    return _with_type_color(
        labels.filter(F.col("keep") & F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(*_aggs())
    )


def unknown_rollup(labels: DataFrame) -> DataFrame:
    """A4: unknown-language documents grouped by extension (or full filename
    when extensionless), byte totals (src/index.ts:457-468)."""
    base = F.element_at(F.split(F.col("path"), "/"), -1)
    # Node Path.extname: final .ext of the basename, '' if none/leading-dot
    ext = F.regexp_extract(base, r"(?:[^./])(\.[^./]+)$", 1)
    kind = F.when(ext == "", F.lit("filenames")).otherwise(F.lit("extensions"))
    name = F.when(ext == "", base).otherwise(ext)
    return (
        labels.filter(F.col("keep") & F.col("lang").isNull())
        .withColumn("kind", kind)
        .withColumn("name", name)
        .groupBy("kind", "name")
        .agg(F.sum("bytes").alias("bytes"), F.count("*").alias("n_docs"))
    )


def totals(labels: DataFrame) -> DataFrame:
    """A5: global files/bytes/lines totals over kept docs
    (src/index.ts:434-438,476-479)."""
    return labels.filter(F.col("keep")).agg(
        F.count("*").alias("n_docs"),
        F.sum("bytes").alias("bytes"),
        F.sum("lines.total").alias("lines_total"),
        F.sum("lines.content").alias("lines_content"),
        F.sum("lines.code").alias("lines_code"),
        F.count_distinct("lang").alias("n_langs"),
    )


def min_size_other(rollup: DataFrame, min_bytes: float, unit: str = "b") -> DataFrame:
    """F6/A6: languages below the threshold merge into an 'Other' row
    (src/cli.ts:72-103). Units mirror the reference CLI's minSize parsing:
    'b' compares bytes, '%' percent-of-total bytes (total via an
    unpartitioned window over the tiny rollup), 'loc' lines of code. Re-key
    + second groupBy — two cheap shuffles on an already-tiny aggregate;
    type/color re-attach from the broadcast language dimension (null for
    the synthetic Other row)."""
    if unit == "%":
        from pyspark.sql import Window

        total = F.sum("bytes").over(Window.partitionBy())
        small = 100.0 * F.col("bytes") / total < min_bytes
    elif unit == "loc":
        small = F.col("lines_code") < min_bytes
    else:
        small = F.col("bytes") < min_bytes
    rekeyed = rollup.withColumn(
        "lang", F.when(small, F.lit("Other")).otherwise(F.col("lang"))
    )
    out = rekeyed.groupBy("lang").agg(
        F.sum("bytes").alias("bytes"),
        F.sum("lines_total").alias("lines_total"),
        F.sum("lines_content").alias("lines_content"),
        F.sum("lines_code").alias("lines_code"),
        F.sum("n_docs").alias("n_docs"),
    )
    return _with_type_color(out)


def keep_reason_rollup(labels: DataFrame) -> DataFrame:
    """North-star metrics rollup: groupingsets over (lang, keep_reason) —
    per-(lang, keep_reason), per-lang, and global totals in ONE pass
    (SURVEY.md §2.4: Spark's grouping-sets subsumes the reference's separate
    aggregation loops). Covers dropped documents too (lang null there)."""
    return (
        labels.groupingSets(
            [["lang", "keep_reason"], ["lang"], []],
            "lang",
            "keep_reason",
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_keep"),
            F.coalesce(F.sum("bytes"), F.lit(0)).cast("long").alias("bytes"),
            F.grouping_id().alias("grp"),
        )
    )


def sorted_by_bytes(rollup: DataFrame) -> DataFrame:
    """O1: display ordering (src/cli.ts:105), with percent-of-total (O2) in
    integer basis points to stay engine-exact.

    The grand total comes from an unpartitioned window, not a crossJoin
    against a separate agg of the same child: the crossJoin form planned the
    rollup twice (ReusedExchange did not fire, VERDICT r01), re-executing
    the whole upstream pipeline per action. A window keeps one linear plan;
    the single-partition window is free here because its input is the
    already-aggregated per-language rollup (hundreds of rows at any scale)."""
    from pyspark.sql import Window

    total = F.sum("bytes").over(Window.partitionBy())
    return (
        rollup.withColumn("_t", total)
        .withColumn("pct_bp", F.expr("10000 * bytes div _t"))
        .drop("_t")
        .orderBy(F.desc("bytes"), F.asc("lang"))
    )
