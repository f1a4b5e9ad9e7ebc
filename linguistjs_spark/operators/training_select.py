"""DSIR-style importance scoring for training-data selection.

Implements the hashed-n-gram importance-resampling estimator of Xie et al.
2023 ("Data Selection for Language Models via Importance Resampling"):
fit bag-of-hashed-ngram unigram+bigram models on a small TARGET corpus and
on the RAW corpus, then score every raw document by the log-likelihood
ratio sum_{g in doc} [log p_target(bucket(g)) - log p_raw(bucket(g))].
Selection keeps the top-scoring docs (the paper resamples with Gumbel
noise; the deterministic log-ratio score below is the reusable kernel —
resampling is one `F.rand(seed)` column away and deliberately left to the
caller so scores stay reproducible).

Scale design:
  - Feature extraction is pure JVM-side array algebra over the shared
    normalized tokenization (no Python, no shuffle).
  - Each model fit is ONE count-aggregation shuffling (8-byte bucket,
    partial count) pairs with map-side combine; the result is `buckets`
    rows — driver-collected like IVF centroids (tiny, fixed size,
    independent of corpus size).
  - Scoring is a per-row ordered fold over the doc's feature array against
    the weight table shipped as ONE array<double> literal (KBs at the
    2^10..2^16 bucket counts the paper uses). The ordered fold makes the
    double sum deterministic, so a pure-python twin reproduces scores
    bit-for-bit (oracle-checkable without tolerance).
  - No per-row Python anywhere; reference's broadcast-config + vectorized
    apply pattern (SURVEY.md §2.7) applied to a model the reference lacks.
"""

from __future__ import annotations

import math
import re
from typing import Iterable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..oracle import WORD_SPLIT_PAT
from .decontam import contamination_flags
from .dedup import _let, normalized_text
from .sampling import stratified_sample


def hashed_ngram_features(text: Column, buckets: int = 1024) -> Column:
    """Hashed unigram+bigram feature sequence (array<bigint> of bucket ids,
    document order: all unigrams then all bigrams). Empty/NULL-token docs
    yield an empty array."""
    words = F.filter(F.split(normalized_text(text), " "), lambda x: x != F.lit(""))
    b = F.lit(buckets)

    def build(w: Column) -> Column:
        n = F.size(w)
        uni = F.transform(w, lambda x: F.pmod(F.xxhash64(x), b))
        bi = F.transform(
            F.sequence(F.lit(1), F.greatest(n - 1, F.lit(0))),
            lambda i: F.pmod(
                F.xxhash64(F.concat_ws(" ", F.slice(w, i, 2))), b
            ),
        )
        return F.when(n >= 2, F.concat(uni, bi)).otherwise(uni)

    # NULL text propagates NULL through the whole build; the model treats
    # such docs as feature-less (score 0.0), same as the python twin
    return F.coalesce(_let(words, build), F.array().cast("array<bigint>"))


def fit_dsir_weights(
    target_docs: DataFrame,
    raw_docs: DataFrame,
    text_col: str = "text",
    buckets: int = 1024,
) -> list[float]:
    """Fit the per-bucket log-ratio table log p_target - log p_raw with
    add-one smoothing. Two aggregations (one per corpus), each a single
    exchange of (bucket, count) partials; `buckets` floats come back to the
    driver — the deliberate tiny driver-side step (same stance as
    ivf_centroids), NOT a collect of corpus data."""

    def counts(df: DataFrame) -> tuple[list[int], int]:
        rows = (
            df.select(
                F.explode(hashed_ngram_features(F.col(text_col), buckets)).alias("b")
            )
            .groupBy("b")
            .agg(F.count("*").alias("c"))
            .collect()
        )
        arr = [0] * buckets
        total = 0
        for r in rows:
            arr[int(r["b"])] = int(r["c"])
            total += int(r["c"])
        return arr, total

    t_cnt, t_tot = counts(target_docs)
    r_cnt, r_tot = counts(raw_docs)
    return [
        math.log((t_cnt[i] + 1) / (t_tot + buckets))
        - math.log((r_cnt[i] + 1) / (r_tot + buckets))
        for i in range(buckets)
    ]


def dsir_score_col(text: Column, weights: list[float]) -> Column:
    """Per-doc importance score: ordered fold over the feature sequence,
    one weight-table array literal, deterministic double addition."""
    feats = hashed_ngram_features(text, len(weights))
    table = F.lit(weights)
    return F.aggregate(
        feats,
        F.lit(0.0),
        lambda acc, bkt: acc + F.element_at(table, bkt.cast("int") + 1),
    )


def dsir_scores(
    docs: DataFrame,
    weights: list[float],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_feats, dsir_score) per document — narrow, shuffle-free."""
    text = F.col(text_col)
    return docs.select(
        F.col(id_col),
        F.size(hashed_ngram_features(text, len(weights))).cast("long").alias(
            "n_feats"
        ),
        dsir_score_col(text, weights).alias("dsir_score"),
    )


# ---------------------------------------------------------------------------
# the composed training mix
# ---------------------------------------------------------------------------


def training_mix(
    docs: DataFrame, bench: DataFrame, fractions: dict[str, float], seed: int
) -> DataFrame:
    """The training-mix composition over (doc_id, lang, text) rows:
    exact-dedup winners (min doc_id per ``xxhash64(text)``, one window
    shuffle — text never becomes the key) -> eval-set decontamination
    (13-gram broadcast probe against ``bench``; bench members are
    self-contaminated, so an eval slice drawn from ``docs`` drops out of
    the mix too) -> deterministic key-hash stratified sampling (retry- and
    layout-stable). Returns the sampled rows with ``n_hits`` and without
    ``is_contaminated``. The one-shot ``q_training_mix`` query and the
    resumable per-bucket writer both build the mix here."""
    w = Window.partitionBy(F.xxhash64("text")).orderBy("doc_id")
    winners = (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1).drop("_rn")
    )
    clean = contamination_flags(winners, bench, n=13).filter(
        ~F.col("is_contaminated")
    ).drop("is_contaminated")
    return stratified_sample(
        clean, fractions, strata_col="lang", key_col="doc_id", seed=seed
    )


def mix_rollup(mix: DataFrame) -> DataFrame:
    """Per-lang (n_docs, bytes) of a training mix."""
    return mix.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.octet_length("text")).cast("long").alias("bytes"),
    )


# ---------------------------------------------------------------------------
# pure-python twin (bit-for-bit: same hashes via hash_twin, same fold order)
# ---------------------------------------------------------------------------

_WORD_SPLIT_RE = re.compile(WORD_SPLIT_PAT)


def _twin_words(text: str | None) -> list[str]:
    if text is None:
        return []
    norm = _WORD_SPLIT_RE.sub(" ", text.lower()).strip()
    return [w for w in norm.split(" ") if w]


def twin_features(text: str | None, buckets: int) -> list[int]:
    """Python twin of hashed_ngram_features (pinned in tests)."""
    from ..hash_twin import spark_xxhash64

    words = _twin_words(text)
    uni = [spark_xxhash64(w) % buckets for w in words]
    bi = [
        spark_xxhash64(words[i] + " " + words[i + 1]) % buckets
        for i in range(len(words) - 1)
    ]
    return uni + bi


def twin_fit_weights(
    target_texts: Iterable[str],
    raw_texts: Iterable[str],
    buckets: int = 1024,
) -> list[float]:
    """Python twin of fit_dsir_weights."""

    def counts(texts: Iterable[str]) -> tuple[list[int], int]:
        arr = [0] * buckets
        total = 0
        for t in texts:
            for bkt in twin_features(t, buckets):
                arr[bkt] += 1
                total += 1
        return arr, total

    t_cnt, t_tot = counts(target_texts)
    r_cnt, r_tot = counts(raw_texts)
    return [
        math.log((t_cnt[i] + 1) / (t_tot + buckets))
        - math.log((r_cnt[i] + 1) / (r_tot + buckets))
        for i in range(buckets)
    ]


def twin_score(text: str | None, weights: list[float]) -> float:
    """Python twin of dsir_score_col: identical fold order ⇒ identical
    IEEE-double result."""
    acc = 0.0
    for bkt in twin_features(text, len(weights)):
        acc += weights[bkt]
    return acc
