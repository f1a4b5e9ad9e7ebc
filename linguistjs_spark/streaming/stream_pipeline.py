"""Structured Streaming variant of the quality-filter pipeline.

The north rule asks for batch-with-resumability (see resume.py); this module
adds the genuinely-streaming deployment shape for ongoing crawls: new page
files landing in a directory are picked up incrementally, run through the
SAME run_pipeline transformation graph (it is pure per-row column algebra +
filters + unions — no aggregation — so it is append-mode streamable as-is),
and appended to a parquet labels sink. The checkpoint directory gives
exactly-once file-level progress: a restart (or the next AvailableNow run)
processes only files not yet recorded in the checkpoint — the streaming
analog of resume.py's per-bucket lineage skip.

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

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..config import QualityFilterConfig
from ..pipeline import run_pipeline

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), True),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)


def stream_labels(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: QualityFilterConfig | None = None,
    max_files_per_trigger: int | None = None,
):
    """Drain all currently-available page files into the labels sink.

    Returns the finished ``StreamingQuery`` (already awaited). Re-invoking
    with the same checkpoint processes only files added since the last run.
    """
    reader = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.parquet(input_dir)

    labels = run_pipeline(spark, pages, cfg)
    # parquet sink can't store array<string>-of-null structs from the union
    # padding; alternatives is already array<string>, keep schema as-is.
    query = (
        labels.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


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
    content fingerprint (the same two seeded xxhash64 halves as
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

    from ..operators.dedup import normalized_text

    reader = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.parquet(input_dir)

    norm = normalized_text(F.col("text"))
    deduped = (
        pages.withColumn("_fp1", F.xxhash64(norm))
        .withColumn("_fp2", F.xxhash64(norm, F.lit(1)))
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["_fp1", "_fp2"])
        .drop("_fp1", "_fp2")
    )
    query = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query


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

    reader = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("recursiveFileLookup", "true")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    pages = reader.parquet(input_dir)

    staged = pages.withColumn(
        "stage",
        quality_stage_col(
            F.coalesce(F.col("text"), F.lit("")),
            lang=F.col("lang"),
            min_words=min_words,
        ),
    )
    query = (
        staged.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return query
