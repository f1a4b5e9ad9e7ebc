"""Structured Streaming variant of the quality-filter pipeline.

The north rule asks for batch-with-resumability (see resume.py); this module
adds the genuinely-streaming deployment shape for ongoing crawls: new page
files landing in a directory are picked up incrementally, run through the
SAME run_pipeline label program (one single-pass chain of per-row
withColumns steps ending in an observe() fence — no aggregation, no join —
so it is append-mode streamable as-is), and appended to a parquet labels
sink. The checkpoint directory gives exactly-once file-level progress: a
restart (or the next AvailableNow run) processes only files not yet
recorded in the checkpoint — the streaming analog of resume.py's
per-bucket lineage skip. Every stream here, and the event streams in
stateful.py, run through one reader/sink pair (``_drain``).

``Trigger.AvailableNow`` drains everything currently available and stops,
which is the recommended incremental-batch pattern (micro-batch sizing via
maxFilesPerTrigger still applies) — one scheduled run per crawl drop at
100 TB scale, continuous `processingTime` trigger for a live feed.

The downstream per-language rollup stays a batch query over the labels sink
(run it after each drain); a watermarked streaming aggregation is
intentionally not used because labels are append-only facts keyed by url,
not time-windowed state.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..config import QualityFilterConfig
from ..pipeline import run_pipeline
from ..sources.pages import PAGES_SCHEMA


def _drain(
    spark: SparkSession,
    schema: StructType | str,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    max_files_per_trigger: int | None = None,
):
    """Read the parquet files under ``input_dir`` as a stream of ``schema``
    rows, apply ``transform`` and append its output to the parquet sink at
    ``output_dir`` until everything currently available is drained
    (AvailableNow). Returns the finished ``StreamingQuery``. Re-invoking
    with the same checkpoint processes only files added since the last
    run."""
    reader = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    query = (
        transform(reader.parquet(input_dir)).writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


def stream_labels(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: QualityFilterConfig | None = None,
    max_files_per_trigger: int | None = None,
):
    """Drain all currently-available page files into the labels sink: the
    label program is one per-row pass, so its labels append as-is (the
    array<string> ``alternatives`` column is stored unchanged)."""
    return _drain(
        spark, PAGES_SCHEMA, input_dir, output_dir, checkpoint_dir,
        lambda pages: run_pipeline(spark, pages, cfg), max_files_per_trigger,
    )


def stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "24 hours",
    max_files_per_trigger: int | None = None,
):
    """Streaming exact dedup over an ongoing crawl: one representative per
    content fingerprint, with state bounded by a watermark.

    Uses ``dropDuplicatesWithinWatermark`` keyed on the 128-bit composite
    content fingerprint (dedup.content_fingerprint, the key of
    dedup.exact_dedup, so batch and streaming agree on what "identical"
    means — and share its collision stance: a single 64-bit key at
    10^12 docs expects ~3e4 birthday merges). State design at 10^12-doc
    scale: unbounded cross-crawl dedup state would grow forever, so the
    stream only guarantees uniqueness among documents whose ``warc_ts``
    fall within the watermark window of each other — recrawl storms and
    mirror bursts (the streaming dedup use case) are caught with O(window)
    state; full-corpus dedup remains the batch operator. Checkpointed:
    a restart resumes both file progress and dedup state.
    """
    from pyspark.sql import functions as F

    from ..operators.dedup import content_fingerprint

    fp1, fp2 = content_fingerprint(F.col("text"))
    return _drain(
        spark, PAGES_SCHEMA, input_dir, output_dir, checkpoint_dir,
        lambda pages: pages.withColumns({"_fp1": fp1, "_fp2": fp2})
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["_fp1", "_fp2"])
        .drop("_fp1", "_fp2"),
        max_files_per_trigger,
    )


def stream_quality_stages(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    min_words: int | None = None,
    max_files_per_trigger: int | None = None,
):
    """Streaming Gopher funnel for an ongoing crawl: every landing page is
    stamped with its STATELESS funnel stage (the quality rule chain, then
    the repetition thresholds — gopher.quality_stage_col, pure per-row
    algebra, append-mode safe) and appended to a parquet sink; the
    per-stage rollup stays a batch query over the sink (this module's
    standing posture), and the stateful exact-dup discipline is
    stream_exact_dedup over the 'keep' rows. Same checkpoint semantics as
    stream_labels: AvailableNow drains, file-level exactly-once."""
    from pyspark.sql import functions as F

    from ..operators.gopher import quality_stage_col

    stage = quality_stage_col(
        F.coalesce(F.col("text"), F.lit("")),
        lang=F.col("lang"),
        min_words=min_words,
    )
    return _drain(
        spark, PAGES_SCHEMA, input_dir, output_dir, checkpoint_dir,
        lambda pages: pages.withColumn("stage", stage), max_files_per_trigger,
    )
